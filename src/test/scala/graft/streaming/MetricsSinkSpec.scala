package graft.streaming

import graft.{HealthServer, SparkSpec, TestSpark}
import graft.model.RawActorEvent
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** S12 (metrics table + listener bridge) and S13 (health route). */
class MetricsSinkSpec extends SparkSpec {

  test("record() appends queryable day-partitioned points") {
    val root = java.nio.file.Files.createTempDirectory("metrics").toString + "/m"
    val sink = new MetricsSink(spark, root)
    assert(sink.table().count() == 0)

    val t1 = java.sql.Timestamp.valueOf("2025-01-15 10:00:00")
    sink.record("observe", Map("ingested" -> 360L, "last_searched_epoch" -> 4622139L), t1)
    sink.record("resolve", Map("queued" -> 85L), t1)
    val t2 = java.sql.Timestamp.valueOf("2025-01-16 10:00:00")
    sink.record("submit", Map("submitted" -> 270L), t2)

    val tbl = sink.table()
    assert(tbl.count() == 4)
    assert(tbl.filter(col("loop") === "observe").count() == 2)
    assert(tbl.filter(col("metric") === "ingested")
      .select("value").collect()(0).getLong(0) == 360L)
    // day partitioning: retention sweeps prune by directory
    assert(tbl.select("day").distinct().count() == 2)
  }

  test("record() writes its point on the driver: zero Spark jobs") {
    val root = java.nio.file.Files.createTempDirectory("metrics-jobs").toString + "/m"
    val sink = new MetricsSink(spark, root)
    val t = java.sql.Timestamp.valueOf("2025-01-15 10:00:00")
    assert(jobsDuring(sink.record("resolve", Map("queued" -> 85L, "failed" -> 0L), t)) == 0)
    assert(jobsDuring(sink.record("resolve", Map("queued" -> 3L), t)) == 0)
    assert(sink.table().filter(col("metric") === "queued").count() == 2)
  }

  test("a point's day is to_date(ts) in the session time zone, on both sides of midnight") {
    val root = java.nio.file.Files.createTempDirectory("metrics-tz").toString + "/m"
    val sink = new MetricsSink(spark, root)
    val zoneKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(zoneKey)
    def at(utc: String) = java.sql.Timestamp.from(java.time.Instant.parse(utc))
    // (zone, instant, its date in that zone): the Los Angeles points fall
    // on the other UTC day from their local one
    val cases = Seq(
      ("UTC", "2025-01-15T23:59:59.999Z", "2025-01-15"),
      ("UTC", "2025-01-16T00:00:00Z", "2025-01-16"),
      ("America/Los_Angeles", "2025-01-16T07:59:59.999Z", "2025-01-15"),
      ("America/Los_Angeles", "2025-01-16T08:00:00Z", "2025-01-16"))
    try cases.zipWithIndex.foreach { case ((zone, utc, date), i) =>
      spark.conf.set(zoneKey, zone)
      sink.record(s"p$i", Map("v" -> i.toLong), at(utc))
      val Array(r) = sink.table().filter(col("loop") === s"p$i")
        .select(col("day").cast("string"), (col("day") === to_date(col("ts"))).as("same"),
          col("ts")).collect()
      assert(r.getString(0) == date && r.getBoolean(1), s"$zone $utc: $r")
      assert(r.getTimestamp(2) == at(utc), "ts keeps its microseconds")
    } finally spark.conf.set(zoneKey, saved)
  }

  test("a hidden in-flight file is not listed, and a published point leaves none behind") {
    val root = java.nio.file.Files.createTempDirectory("metrics-hidden").toString + "/m"
    val sink = new MetricsSink(spark, root)
    sink.record("observe", Map("ingested" -> 1L), java.sql.Timestamp.valueOf("2025-01-15 10:00:00"))
    val day = new java.io.File(root, "day=2025-01-15")
    assert(day.list().filterNot(_.endsWith(".crc")).forall(_.startsWith("part-")),
      day.list().mkString(","))
    // another writer's half-written files: beside a published point, and
    // alone in a day directory of their own
    val half = "PAR1 half-written".getBytes("UTF-8")
    java.nio.file.Files.write(new java.io.File(day, ".part-inflight.snappy.parquet").toPath, half)
    val lone = new java.io.File(root, "day=2025-01-16")
    lone.mkdirs()
    java.nio.file.Files.write(new java.io.File(lone, ".part-inflight.snappy.parquet").toPath, half)
    assert(sink.table().count() == 1)
  }

  test("table() reads a directory of Spark-written (INT96 ts) and driver-written points together") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("metrics-adopt").toString + "/m"
    val t1 = java.sql.Timestamp.valueOf("2025-01-15 10:00:00.123456")
    val t2 = java.sql.Timestamp.valueOf("2025-01-16 11:00:00")
    // the points an older sink wrote: a Spark append with INT96 timestamps
    val typeKey = "spark.sql.parquet.outputTimestampType"
    val savedType = spark.conf.get(typeKey)
    spark.conf.set(typeKey, "INT96")
    try Seq(("observe", "ingested", 360L), ("observe", "retracted", 0L))
      .toDF("loop", "metric", "value")
      .withColumn("ts", lit(t1))
      .withColumn("day", to_date(col("ts")))
      .select("ts", "loop", "metric", "value", "day")
      .coalesce(1)
      .write.mode("append").partitionBy("day").parquet(root)
    finally spark.conf.set(typeKey, savedType)
    val sink = new MetricsSink(spark, root)
    sink.record("resolve", Map("queued" -> 85L), t1)
    sink.record("submit", Map("submitted" -> 270L), t2)

    val conf = spark.sparkContext.hadoopConfiguration
    val tsTypes = new java.io.File(root).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(f => f.getName.startsWith("part-")).map { f =>
        val in = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), conf))
        try in.getFooter.getFileMetaData.getSchema.getFields.get(0).asPrimitiveType()
          .getPrimitiveTypeName.toString
        finally in.close()
      }
    assert(tsTypes.sorted.toSeq == Seq("INT64", "INT64", "INT96"), tsTypes.mkString(","))

    val rows = sink.table().collect().map(r =>
      (r.getTimestamp(0), r.getString(1), r.getString(2), r.getLong(3), r.getDate(4).toString)).toSet
    assert(rows == Set(
      (t1, "observe", "ingested", 360L, "2025-01-15"),
      (t1, "observe", "retracted", 0L, "2025-01-15"),
      (t1, "resolve", "queued", 85L, "2025-01-15"),
      (t2, "submit", "submitted", 270L, "2025-01-16")))
  }

  test("iterative graph loops record per-round telemetry through roundHook") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("metrics-graph").toString + "/m"
    val sink = new MetricsSink(spark, root)

    // CC: force the distributed star-contraction path so every round
    // fires the hook with its edge gauge
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id1", "id2")
    graft.ops.ConnectedComponents.connectedComponents(
      edges, onRound = sink.roundHook("cc"), localThreshold = 0).collect()
    val cc = sink.table().filter(col("loop") === "cc")
    val ccRounds = cc.filter(col("metric") === "round")
      .select("value").collect().map(_.getLong(0)).sorted
    assert(ccRounds.nonEmpty && ccRounds.head == 1L,
      s"per-round rows expected, got ${ccRounds.mkString(",")}")
    assert(cc.filter(col("metric") === "edges").count() == ccRounds.length,
      "each round carries its edge gauge")

    // PageRank: the checkpoint heartbeat is the loop's only action —
    // 5 iterations at checkpointEvery=2 cut at i=2 and i=4
    val (pr, release) = graft.ops.PageRank.pageRankWithRelease(
      Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), iters = 5,
      checkpointEvery = 2,
      onCheckpoint = sink.roundHook("pagerank", valueName = "checkpoint_ms"))
    assert(pr.count() == 2)
    val prRounds = sink.table()
      .filter(col("loop") === "pagerank" && col("metric") === "round")
      .select("value").collect().map(_.getLong(0)).sorted
    assert(prRounds.toSeq == Seq(2L, 4L), s"got ${prRounds.mkString(",")}")

    // the release handle frees the three persisted relations without
    // touching unrelated cache entries
    val other = Seq((1, 2)).toDF("a", "b").cache()
    other.count()
    val before = spark.sparkContext.getPersistentRDDs.size
    release()
    // unpersist is async (blocking=false): poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while (spark.sparkContext.getPersistentRDDs.size > before - 3 &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.getPersistentRDDs.size <= before - 3,
      s"release must drop the 3 pagerank relations (before=$before)")
    assert(other.storageLevel.useMemory, "unrelated cache entries must survive")
    other.unpersist()
  }

  test("streaming loop records per-micro-batch points via the sink") {
    val tmp = java.nio.file.Files.createTempDirectory("metrics-stream").toString
    val sink = new MetricsSink(spark, s"$tmp/metrics")
    val events = s"$tmp/events"
    new java.io.File(events).mkdirs()
    // stage the golden fixture as the stream input
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.fixtures}/rawActorEvents.json"),
      java.nio.file.Paths.get(s"$events/rawActorEvents.json"))

    val q = DealObserverStream.start(
      spark, events, s"$tmp/store", s"$tmp/ckpt",
      chainHead = () => 4622139 + 940,
      trigger = Trigger.AvailableNow(),
      metrics = Some(sink))
    q.awaitTermination()

    val pts = sink.table().filter(col("loop") === "observe")
    assert(pts.filter(col("metric") === "ingested").count() >= 1)
    val ingested = pts.filter(col("metric") === "ingested")
      .agg(sum("value")).collect()(0).getLong(0)
    assert(ingested == 360L)
  }

  test("progressListener bridges engine progress into the table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("metrics-l").toString + "/m"
    val sink = new MetricsSink(spark, root)
    val listener = sink.progressListener()
    spark.streams.addListener(listener)
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[Int]
      mem.addData(1, 2, 3)
      val q = mem.toDF().writeStream.queryName("probe")
        .format("noop").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // listener fires asynchronously after the batch commits
      var tries = 0
      while (sink.table().count() == 0 && tries < 50) { Thread.sleep(200); tries += 1 }
      val rows = sink.table().filter(col("loop") === "probe")
      assert(rows.filter(col("metric") === "numInputRows")
        .agg(sum("value")).collect()(0).getLong(0) == 3L)
    } finally spark.streams.removeListener(listener)
  }

  test("health endpoint serves OK and flips on failing check") {
    @volatile var ok = true
    val hs = new HealthServer(port = 0, healthy = () => ok)
    val port = hs.start()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def get() = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val r1 = get()
      assert(r1.statusCode() == 200 && r1.body() == "OK")
      ok = false
      assert(get().statusCode() == 503)
    } finally hs.stop()
  }
}

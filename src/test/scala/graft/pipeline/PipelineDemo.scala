package graft.pipeline

import graft.ingest.DealIngest
import graft.model._
import graft.state._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Manual end-to-end drive of the observe → resolve → submit pipeline on
  * the golden fixtures. Run with:
  *   sbt "Test/runMain graft.pipeline.PipelineDemo"
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fx = graft.TestSpark.fixtures
    val raw = spark.read.schema(RawActorEvent.schema).json(s"$fx/rawActorEvents.json")
    val peer = spark.read.json(s"$fx/minerPeerIds.json")
    val pay = spark.read.json(s"$fx/payloadCids.json")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ActiveDeal.schema)

    val deals = DealIngest.observe(raw, empty, 4622139 + 940, lastStored = None)
    println(s"OBSERVE appended=${deals.count()}")

    val storeDir = java.nio.file.Files.createTempDirectory("drive-store").toString
    val store = new DealStateStore(spark, storeDir)
    store.write(deals)
    println(s"STORE version=${store.latestVersion} rows=${store.read().count()}")

    val again = DealIngest.observe(raw, store.read(), 4622139 + 940, store.maxEpoch())
    println(s"REPLAY appended=${again.count()}")

    val now = java.sql.Timestamp.valueOf("2025-01-15 00:00:00")
    val resolved = ResolvePayloadCids.resolve(store.read(), peer, pay, now, 10000)
    store.write(resolved)
    val counts = ResolvePayloadCids.countsByState(store.read()).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"RESOLVE counts=$counts")

    val later = java.sql.Timestamp.valueOf("2025-06-15 00:00:00")
    var batches = 0
    val sr = SubmitDeals.submit(store.read(), later, 100,
      rows => { batches += 1; (rows.length.toLong, 0L) })
    println(s"SUBMIT submitted=${sr.submitted} batches=$batches")
    store.write(sr.newState)
    println(s"FINAL submitted_rows=${store.read().filter(col("submitted_at").isNotNull).count()} version=${store.latestVersion}")

    // --- streaming drive: same pipeline behind Structured Streaming
    val evDir = java.nio.file.Files.createTempDirectory("drive-ev").toString
    val stDir = java.nio.file.Files.createTempDirectory("drive-st").toString
    val ckDir = java.nio.file.Files.createTempDirectory("drive-ck").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$fx/rawActorEvents.json"),
      java.nio.file.Paths.get(s"$evDir/b0.json"))
    val q = graft.streaming.DealObserverStream.start(spark, evDir, stDir, ckDir,
      chainHead = () => 4622139 + 940,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(120000)
    val sstore = new DealStateStore(spark, stDir)
    println(s"STREAM rows=${sstore.read().count()}")
    // overlapping replay file → idempotent
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$fx/rawActorEvents.json"),
      java.nio.file.Paths.get(s"$evDir/b1.json"))
    val q2 = graft.streaming.DealObserverStream.start(spark, evDir, stDir, ckDir,
      chainHead = () => 4622139 + 940,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q2.awaitTermination(120000)
    println(s"STREAM_REPLAY rows=${sstore.read().count()}")
    // watermark-state dedup variant over a log containing full duplicates
    val wq = graft.streaming.DealObserverStream.dedupedDealStream(spark, evDir)
      .writeStream.format("memory").queryName("demo_wmk")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("drive-wmk").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    wq.awaitTermination(120000)
    println(s"STREAM_WMK_DEDUP rows=${spark.table("demo_wmk").count()}")

    // --- multimodal drive
    import graft.ops.Multimodal
    implicit val sp: SparkSession = spark
    import sp.implicits._
    def header(w: Int, h: Int): Array[Byte] =
      Array((w >> 24).toByte, (w >> 16).toByte, (w >> 8).toByte, w.toByte,
        (h >> 24).toByte, (h >> 16).toByte, (h >> 8).toByte, h.toByte)
    val assets = Seq(
      Multimodal.MediaAsset(1, "image", header(4000, 3000) ++ Array.fill(64)(7.toByte),
        Multimodal.MediaMeta(0, 0, 0, 0, "png")),
      Multimodal.MediaAsset(2, "video", header(1920, 1080) ++ Array.fill(64)(9.toByte),
        Multimodal.MediaMeta(0, 0, 5000, 0, "mp4"))).toDS()
    val decoded = Multimodal.decodeImages(assets)
    val resized = Multimodal.resizeMeta(decoded.toDF(), 1000)
      .select("asset_id", "target_width", "target_height").collect()
    println(s"MULTIMODAL resize=${resized.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toList}")
    println(s"MULTIMODAL frames=${Multimodal.sampleFrames(decoded, 1000).count()}")
    // audio: a real 16-bit PCM WAV through the windowed energy features
    locally {
      def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def cc(s: String) = s.getBytes("US-ASCII")
      def chunk(id: String, b: Array[Byte]) = cc(id) ++ le32(b.length) ++ b
      val fmt = le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
      val pcm = Seq(1000, -2000, 3000, -4000).flatMap(v => le16(v & 0xffff)).toArray
      val body = cc("WAVE") ++ chunk("fmt ", fmt) ++ chunk("data", pcm)
      val audio = Seq(Multimodal.MediaAsset(3, "audio",
        cc("RIFF") ++ le32(body.length) ++ body,
        Multimodal.MediaMeta(0, 0, 0, 0, ""))).toDS()
      val aw = Multimodal.audioWindows(audio, 2, 2).collect()
      println(s"MULTIMODAL audio_windows=${aw.length} sum_abs=${aw.map(_.getLong(3)).toList}")
    }
    // real MKV container: EBML-built fixture with two JPEG SimpleBlocks;
    // the demux serves actual frame bytes back through the JPEG decoder
    locally {
      def ebmlId(id: Long): Array[Byte] = {
        val w = if (id <= 0xff) 1 else if (id <= 0xffff) 2 else if (id <= 0xffffff) 3 else 4
        (0 until w).map(i => ((id >> (8 * (w - 1 - i))) & 0xff).toByte).toArray
      }
      def el(id: Long, p: Array[Byte]): Array[Byte] =
        ebmlId(id) ++ Array[Byte]((0x40 | (p.length >> 8)).toByte, (p.length & 0xff).toByte) ++ p
      def jpeg(w: Int, h: Int): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", out); out.toByteArray
      }
      def block(ts: Int, payload: Array[Byte]): Array[Byte] =
        el(0xA3L, Array[Byte](0x81.toByte, (ts >> 8).toByte, ts.toByte, 0) ++ payload)
      val mkv = el(0x1A45DFA3L, el(0x4282L, "matroska".getBytes("US-ASCII"))) ++
        el(0x18538067L,
          el(0x1549A966L, el(0x2AD7B1L, Array[Byte](0x0F, 0x42, 0x40)) ++
            el(0x4489L, Array[Byte](0x45, 0x7A, 0, 0))) ++ // 4000f ticks
            el(0x1654AE6BL, el(0xAEL,
              el(0xD7L, Array[Byte](1)) ++ el(0x83L, Array[Byte](1)))) ++
            el(0x1F43B675L, el(0xE7L, Array[Byte](0)) ++
              block(0, jpeg(16, 8)) ++ block(2000, jpeg(17, 9))))
      val mkvFrames = Multimodal.sampleFrames(Seq(Multimodal.MediaAsset(
          3, "video", mkv, Multimodal.MediaMeta(0, 0, 0, 0, "?"))).toDS(), 2000)
        .collect()
      val dims = mkvFrames.flatMap(f => graft.ops.ImageCodecs.decodeJpeg(f.frame_bytes))
        .map(d => (d.width, d.height)).toList
      println(s"MULTIMODAL mkv_frames=${mkvFrames.length} dims=$dims")
    }

    // --- Kafka-shaped ingestion: the same NDJSON events wrapped in the
    // Kafka source's public schema decode to the same 360 raw events
    locally {
      val lines = scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
          s"$fx/rawActorEvents.json"))).asScala.toSeq.filter(_.nonEmpty)
      val rows = lines.zipWithIndex.map { case (l, i) =>
        org.apache.spark.sql.Row(null, l.getBytes("UTF-8"), "actor-events",
          i % 3, i.toLong, new java.sql.Timestamp(1700000000000L + i), 0)
      }
      val kdf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4),
        graft.sources.KafkaEvents.kafkaSourceSchema)
      println(s"KAFKA decoded=${graft.sources.KafkaEvents.decode(kdf).count()}")
    }

    // --- incremental near-dup on ingest: batch 2 carries a near-copy of
    // a batch-1 document; the signature store flags it cross-batch
    val dedupStore = java.nio.file.Files.createTempDirectory("demo-dedup").toString
    val words = (0 until 40).map(i => s"tok$i")
    val dd1 = Seq((1L, words.mkString(" ")),
      (2L, (100 until 140).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val dd2 = Seq((3L, (words.take(36) ++ Seq("x1", "x2", "x3", "x4")).mkString(" ")))
      .toDF("doc_id", "text")
    graft.streaming.DedupStream.step(dd1, dedupStore, batchTag = "0").unpersist()
    val crossPairs = graft.streaming.DedupStream.step(dd2, dedupStore, batchTag = "1")
    println(s"DEDUP_STREAM pairs=${crossPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toList}")
    crossPairs.unpersist()

    // incremental whole-doc exact dedup: batch-2 doc 12 repeats batch-1
    // doc 1's content verbatim → (12, keeper 1)
    val exactStore = java.nio.file.Files.createTempDirectory("demo-exact").toString
    graft.streaming.DedupStream.exactStep(dd1, exactStore, batchTag = "0").unpersist()
    val exDup = graft.streaming.DedupStream.exactStep(
      Seq((12L, words.mkString(" "))).toDF("doc_id", "text"),
      exactStore, batchTag = "1")
    println(s"EXACT_STREAM dups=${exDup.collect().map(r => (r.getLong(0), r.getLong(1))).toList}")
    exDup.unpersist()

    // --- durable incremental ANN: two upserts accrete a searchable LSH
    // store; vector 20 is a near-copy of vector 1 from the EARLIER
    // batch, so the cross-batch search must surface it as the top hit
    val annStore = java.nio.file.Files.createTempDirectory("demo-ann").toString
    def vec(seed: Int): Seq[Float] =
      (0 until 16).map(i => math.sin(seed * 17.0 + i).toFloat)
    val av1 = Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3))).toDF("vec_id", "embedding")
    val near1 = vec(1).zipWithIndex.map { case (v, i) => v + (if (i == 0) 0.01f else 0f) }
    val av2 = Seq((20L, near1.toSeq), (21L, vec(9))).toDF("vec_id", "embedding")
    graft.streaming.AnnStream.upsertStep(av1, annStore, dim = 16, planes = 4,
      tables = 4, batchTag = "a0")
    graft.streaming.AnnStream.upsertStep(av2, annStore, dim = 16, planes = 4,
      tables = 4, batchTag = "a1")
    val annHit = graft.streaming.AnnStream.searchStore(
        spark, annStore, av1.filter($"vec_id" === 1L), k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    println(s"ANN_STREAM top1=$annHit")

    // --- durable incremental IVF (round 14): the first upsert fits and
    // pins the quantizer, the second accretes under it; the cross-batch
    // nprobe search must surface the same near-copy as the top hit
    val ivfStore = java.nio.file.Files.createTempDirectory("demo-ivf").toString
    graft.streaming.IvfStream.upsertStep(av1, ivfStore, dim = 16, nlist = 2,
      batchTag = "i0")
    graft.streaming.IvfStream.upsertStep(av2, ivfStore, dim = 16, nlist = 2,
      batchTag = "i1")
    val ivfHit = graft.streaming.IvfStream.searchStore(
        spark, ivfStore, av1.filter($"vec_id" === 1L), k = 1, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    println(s"IVF_STREAM top1=$ivfHit")

    // --- durable incremental IVF-PQ (round 14): dual quantizer pinned
    // by the first upsert, residual codes per commit, ADC + exact
    // re-rank across batches
    val pqStore = java.nio.file.Files.createTempDirectory("demo-pq").toString
    graft.streaming.IvfPqStream.upsertStep(av1, pqStore, dim = 16, nlist = 2,
      m = 4, batchTag = "p0")
    graft.streaming.IvfPqStream.upsertStep(av2, pqStore, dim = 16, nlist = 2,
      m = 4, batchTag = "p1")
    val pqHit = graft.streaming.IvfPqStream.searchStore(
        spark, pqStore, av1.filter($"vec_id" === 1L), k = 1, nprobe = 2, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    println(s"IVFPQ_STREAM top1=$pqHit")

    // --- durable incremental IVF-SQ8 (round 16): model (centroids +
    // per-dim residual bounds) pinned by the first upsert, byte codes
    // per commit, coefficient-scored shortlist + exact re-rank
    val sqStore = java.nio.file.Files.createTempDirectory("demo-sq").toString
    graft.streaming.IvfSqStream.upsertStep(av1, sqStore, dim = 16, nlist = 2,
      batchTag = "s0")
    graft.streaming.IvfSqStream.upsertStep(av2, sqStore, dim = 16, nlist = 2,
      batchTag = "s1")
    val sqHit = graft.streaming.IvfSqStream.searchStore(
        spark, sqStore, av1.filter($"vec_id" === 1L), k = 1, nprobe = 2, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    println(s"IVFSQ_STREAM top1=$sqHit")

    // --- watermarked stream-stream attribution join: one in-horizon
    // click matches, the no-impression click drops
    {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import java.sql.Timestamp
      val imp = MemoryStream[(String, Timestamp)]
      val clk = MemoryStream[(String, Timestamp)]
      val q = graft.streaming.StreamJoin.attributionJoin(
          imp.toDF().toDF("key", "ts"), clk.toDF().toDF("key", "ts"),
          key = "key", maxDelay = "1 minute")
        .writeStream.format("memory").queryName("demo_sj")
        .outputMode("append").start()
      imp.addData(("ad1", Timestamp.valueOf("2026-01-01 10:00:00")))
      clk.addData(("ad1", Timestamp.valueOf("2026-01-01 10:00:30")),
        ("ad9", Timestamp.valueOf("2026-01-01 10:00:30")))
      q.processAllAvailable()
      val matched = spark.table("demo_sj").collect().map(_.getString(0)).toList
      println(s"STREAM_JOIN matched=$matched")
      q.stop()
    }

    // --- ingest throughput at 100x fixture volume (reference baseline:
    // ~1.1 events/s, BASELINE.md "Observed event rate")
    val wide = (0 until 100).map { i =>
      raw.withColumn("height", col("height") + lit(i * 2880))
    }.reduce(_ unionByName _).cache()
    val nEvents = wide.count() // materialize outside the timed section
    val tpStart = System.nanoTime()
    val decoded100 = DealIngest.dedupeAgainst(
      DealIngest.decodeRange(wide, 4622129, 4622129 + 100 * 2880),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.model.ActiveDeal.schema))
    val nDeals = decoded100.count()
    val dt = (System.nanoTime() - tpStart) / 1e9
    println(f"THROUGHPUT events=$nEvents deals=$nDeals rate=${nEvents / dt}%.0f events/s")
    wide.unpersist()

    // --- custom DSv2 epoch source drive
    val srcEv = java.nio.file.Files.createTempDirectory("drive-src").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$fx/rawActorEvents.json"),
      java.nio.file.Paths.get(s"$srcEv/epochs-4622129-4622139.json"))
    val headFile = java.nio.file.Files.createTempDirectory("drive-head").toString + "/head.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(headFile),
      s"""{"Height":${4622139 + 940}}""")
    val viaSource = spark.read.format("graft.sources.EpochEventSource")
      .option("path", srcEv).option("headFile", headFile).load()
    println(s"EPOCH_SOURCE rows=${viaSource.count()}")

    // --- SQL function surface drive
    graft.functions.GraftFunctions.registerAll(spark)
    val sqlRow = spark.sql(
      """SELECT cbor_decode_long('GwAAAAgAAAAA') AS big,
        |       timestamp_to_epoch(epoch_to_timestamp(12345)) AS rt,
        |       vector_dot(array(1.0f,2.0f), array(3.0f,4.0f)) AS dot""".stripMargin)
      .collect()(0)
    println(s"SQL big=${sqlRow.getLong(0)} roundtrip=${sqlRow.getInt(1)} dot=${sqlRow.getDouble(2)}")

    // --- stateful streaming resolve (flatMapGroupsWithState)
    import graft.streaming.ResolveStream
    import graft.streaming.ResolveStream.ResolveAttempt
    val day = 86400000L
    val t0 = 1700000000000L
    val updates = ResolveStream(Seq(
      ResolveAttempt("dealA", None, t0),
      ResolveAttempt("dealA", None, t0 + 4 * day),
      ResolveAttempt("dealB", Some("bafyB"), t0)).toDS())
      .collect().sortBy(u => (u.dealKey, u.lastAttemptMs))
      .map(u => s"${u.dealKey}:${u.state.split("_").last}")
    println(s"RESOLVE_STREAM ${updates.mkString(",")}")
    spark.stop()
  }
}

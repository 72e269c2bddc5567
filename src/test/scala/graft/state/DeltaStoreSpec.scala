package graft.state

import graft.{SparkSpec, TestSpark}
import graft.ingest.DealIngest
import graft.model.{ActiveDeal, RawActorEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DeltaStoreSpec extends SparkSpec {

  lazy val raw: DataFrame = spark.read
    .schema(RawActorEvent.schema)
    .json(s"${TestSpark.fixtures}/rawActorEvents.json")

  def emptyState: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ActiveDeal.schema)

  def deals(lo: Int, hi: Int): DataFrame =
    DealIngest.dedupeAgainst(DealIngest.decodeRange(raw, lo, hi), emptyState)

  test("delta writes replace only touched epoch-days; read resolves the chain") {
    val dir = java.nio.file.Files.createTempDirectory("delta-store").toString
    val store = new DealStateStore(spark, dir)

    // two-day state: the fixture day plus a copy shifted one epoch-day
    val day1 = deals(4622129, 4622139)
    val day2 = day1.withColumn("activated_at_epoch", col("activated_at_epoch") + 2880)
    store.write(day1.unionByName(day2))
    assert(store.read().count() == 720)
    assert(store.chainDepth() == 1)

    // delta touching ONLY day 2: resolve its payloads
    val day2Updated = store.read()
      .filter(col("activated_at_epoch") >= 4622129 + 2880)
      .withColumn("payload_cid", lit("bafyX"))
    store.writeDelta(day2Updated)
    assert(store.chainDepth() == 2)
    // day 1 carried forward from the base version, day 2 from the delta
    assert(store.read().count() == 720)
    assert(store.read().filter(col("payload_cid") === "bafyX").count() == 360)
    assert(store.read().filter(col("activated_at_epoch") < 4622129 + 2880 &&
      col("payload_cid").isNotNull).count() == 0)

    // second delta on day 1: each day resolves to its newest version
    store.writeDelta(store.read()
      .filter(col("activated_at_epoch") < 4622129 + 2880)
      .withColumn("submitted_at", lit(java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))))
    assert(store.chainDepth() == 3)
    assert(store.read().filter(col("submitted_at").isNotNull).count() == 360)
    assert(store.read().filter(col("payload_cid") === "bafyX").count() == 360)
    assert(store.read().dropDuplicates(ActiveDeal.naturalKey).count() == 720)

    // compaction folds the chain into one full snapshot, same content
    store.compact()
    assert(store.chainDepth() == 1)
    assert(store.read().count() == 720)
    assert(store.read().filter(col("payload_cid") === "bafyX").count() == 360)
    assert(store.read().filter(col("submitted_at").isNotNull).count() == 360)
  }

  test("lost _LATEST pointer recovers from the newest complete version") {
    val dir = java.nio.file.Files.createTempDirectory("ptr-loss").toString
    val store = new DealStateStore(spark, dir)
    store.write(deals(4622129, 4622138))
    // delta carries the COMPLETE content of the touched day (the
    // fixture spans one epoch_day): previous rows + the new epoch
    store.writeDelta(deals(4622129, 4622139))
    assert(store.read().count() == 360)
    // simulate crash losing the pointer
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/_LATEST"))
    val recovered = new DealStateStore(spark, dir)
    assert(recovered.latestVersion.contains(1L))
    assert(recovered.read().count() == 360)
  }

  test("maxEpoch watermark: O(1) sidecar read, no Spark job, no regression on old-day deltas") {
    val dir = java.nio.file.Files.createTempDirectory("meta-wm").toString
    val store = new DealStateStore(spark, dir)
    assert(store.maxEpoch().isEmpty)

    store.write(deals(4622129, 4622135))
    assert(store.maxEpoch().contains(4622135))

    store.writeDelta(deals(4622129, 4622139))
    assert(store.maxEpoch().contains(4622139))

    // a delta rewriting ONLY older epochs must not move the table-level
    // watermark backwards (parent max carries forward)
    store.writeDelta(deals(4622129, 4622130))
    assert(store.maxEpoch().contains(4622139))

    // the sidecar read is metadata-only: zero Spark jobs
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      store.maxEpoch()
      Thread.sleep(500) // listener bus is async
      assert(jobs == 0, "maxEpoch() must not launch a Spark job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("observe with the stored watermark matches the agg(max) path") {
    val existing = deals(4622129, 4622135)
    val head = 4622139 + DealIngest.FinalityEpochs // endEpoch == 4622139
    val aggMax = existing.agg(max("activated_at_epoch")).collect()(0)
    val viaAgg = DealIngest.observe(raw, existing, head,
      lastStored = if (aggMax.isNullAt(0)) None else Some(aggMax.getInt(0)))
      .orderBy(ActiveDeal.naturalKey.map(col): _*).collect()
    val viaMeta = DealIngest.observe(raw, existing, head, lastStored = Some(4622135))
      .orderBy(ActiveDeal.naturalKey.map(col): _*).collect()
    assert(viaAgg.nonEmpty)
    assert(viaAgg.toSeq == viaMeta.toSeq)
    // empty-store watermark ingests from the lookback cap
    val fresh = DealIngest.observe(raw, emptyState, head, lastStored = None)
    assert(fresh.count() == 360)
  }

  test("day tombstones: delete by reference, same-version write wins, recovery intact") {
    val dir = java.nio.file.Files.createTempDirectory("tombstone").toString
    val store = new DealStateStore(spark, dir)
    val day1 = deals(4622129, 4622139)
    val day2 = day1.withColumn("activated_at_epoch", col("activated_at_epoch") + 2880)
    store.write(day1.unionByName(day2))
    val d1 = 4622129 / store.EpochsPerDay
    assert(store.read().count() == 720)

    // tombstone day 1 with no replacement rows: O(changed) delete
    store.writeDelta(day2.limit(0), tombstoneDays = Set(d1))
    assert(store.read().count() == 360)
    assert(store.read().agg(min("activated_at_epoch")).collect()(0).getInt(0)
      >= 4622129 + 2880)

    // a version that writes AND tombstones the same day: its own write wins
    val replacement = day1.limit(0).unionByName(day1.filter(col("activated_at_epoch") === 4622129))
    store.writeDelta(replacement, tombstoneDays = Set(d1))
    assert(store.read().filter((col("activated_at_epoch") / store.EpochsPerDay)
      .cast("int") === d1).count() == 25)
    assert(store.read().count() == 360 + 25)

    // pointer-loss recovery resolves tombstones identically
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/_LATEST"))
    assert(new DealStateStore(spark, dir).read().count() == 360 + 25)
  }

  test("rescan floor survives appends and compaction; receipt clears it") {
    val dir = java.nio.file.Files.createTempDirectory("floor").toString
    val store = new DealStateStore(spark, dir)
    store.write(deals(4622129, 4622138))
    assert(store.rescanFloor().isEmpty)

    // retraction opens the floor: reported watermark drops below it
    store.writeDelta(deals(4622129, 4622130), lowerRescanFloor = Some(4622135))
    assert(store.rescanFloor().contains(4622135))
    assert(store.storedMaxEpoch().contains(4622138))
    assert(store.maxEpoch().contains(4622134))

    // an append raises the raw max but must NOT close the floor
    store.writeDelta(deals(4622139, 4622139))
    assert(store.rescanFloor().contains(4622135))
    assert(store.storedMaxEpoch().contains(4622139))
    assert(store.maxEpoch().contains(4622134))

    // compaction must not erase a pending rollback either
    store.compact()
    assert(store.rescanFloor().contains(4622135))
    assert(store.maxEpoch().contains(4622134))

    // receipt of the replacement delivery closes it
    store.writeDelta(deals(4622135, 4622136), clearRescanFloor = true)
    assert(store.rescanFloor().isEmpty)
    assert(store.maxEpoch().contains(4622139))
  }

  test("unknown span top backfills a sound ceiling instead of holding the floor forever") {
    val dir = java.nio.file.Files.createTempDirectory("floor-backfill").toString
    val store = new DealStateStore(spark, dir)
    store.write(deals(4622129, 4622138)) // raw max 4622138

    // a floor lowered WITHOUT a raise: the span top is unknown at the
    // call, so the write backfills ceil = the store's raw max — the
    // retracted epochs were stored rows, so none can exceed it
    store.writeDelta(deals(4622129, 4622130), lowerRescanFloor = Some(4622135))
    assert(store.rescanFloor().contains(4622135))
    assert(store.rescanCeil().contains(4622138), "backfilled span top = raw max")

    // pre-ceiling _META layout: doctor the latest sidecar to the old
    // shape (no ceiling). The inherited-unknown floor must NOT persist
    // as never-aged — the next delta backfills.
    val v = store.latestVersion.get
    val metaPath = java.nio.file.Paths.get(s"$dir/v=$v/_META")
    val doctored = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
      .replaceAll(""""rescanCeil":\d+""", """"rescanCeil":null""")
    java.nio.file.Files.write(metaPath, doctored.getBytes("UTF-8"))
    // the nio edit invalidates LocalFileSystem's checksum sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/v=$v/._META.crc"))
    assert(store.rescanCeil().isEmpty, "doctored layout reads as unknown")

    store.writeDelta(deals(4622139, 4622139)) // any later tick
    assert(store.rescanFloor().contains(4622135), "floor itself carries over")
    assert(store.rescanCeil().contains(4622138),
      "inherited unknown top backfilled from the parent's raw max")
    assert(store.maxEpoch().contains(4622134), "watermark still floor-capped")
  }

  test("full write GC keeps the rollback chain intact") {
    val dir = java.nio.file.Files.createTempDirectory("delta-gc").toString
    val store = new DealStateStore(spark, dir)
    store.write(deals(4622129, 4622138))      // v0 full
    store.writeDelta(deals(4622139, 4622139)) // v1 delta (new day rows in same day... same day actually)
    val before = store.read().count()
    store.write(store.read())                 // v2 full; GC must keep v1 AND its parent v0
    assert(store.read().count() == before)
    assert(store.chainDepth() == 1)
  }
}

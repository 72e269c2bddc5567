package graft.state

import graft.{DealObserverApp, SparkSpec, TestSpark}
import graft.ingest.DealIngest
import graft.model.{ActiveDeal, RawActorEvent, PayloadRetrievabilityState => St}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The day-bounded store paths: `_META` day counters, day-selecting
  * reads, and one file per written day. */
class DayBoundedStoreSpec extends SparkSpec {

  lazy val raw: DataFrame = spark.read
    .schema(RawActorEvent.schema)
    .json(s"${TestSpark.fixtures}/rawActorEvents.json")

  def emptyState: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ActiveDeal.schema)

  /** The 360 fixture deals (one epoch-day), moved `k` days later. */
  def dayOfDeals(k: Int): DataFrame =
    DealIngest.dedupeAgainst(DealIngest.decodeRange(raw, 4622129, 4622139), emptyState)
      .withColumn("activated_at_epoch", col("activated_at_epoch") + k * DealStateStore.EpochsPerDay)

  val earlier = java.sql.Timestamp.valueOf("2025-01-20 00:00:00")
  val now = java.sql.Timestamp.valueOf("2025-06-15 00:00:00")

  def resolvedAs(df: DataFrame, cid: String, submitted: Option[java.sql.Timestamp]): DataFrame =
    df.withColumn("payload_cid", lit(cid))
      .withColumn("payload_retrievability_state", lit(St.Resolved))
      .withColumn("last_payload_retrieval_attempt", lit(earlier))
      .withColumn("submitted_at", lit(submitted.orNull).cast("timestamp"))

  /** Four days: settled (closed for both loops), resolved but not
    * submitted (open-submit), never queried (open-resolve), and a mixed
    * day that is open for both. */
  def fourDays(): DataFrame = {
    val (even, odd) = halves(dayOfDeals(3))
    resolvedAs(dayOfDeals(0), "bafySettled", Some(earlier))
      .unionByName(resolvedAs(dayOfDeals(1), "bafyOpen", None))
      .unionByName(dayOfDeals(2))
      .unionByName(resolvedAs(even, "bafyMixed", None))
      .unionByName(odd)
      .repartition(4) // every day spread over several input partitions
  }

  def halves(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(col("sector_id") % 2 === 0), df.filter(col("sector_id") % 2 =!= 0))

  def dayOf(k: Int): Int = DealStateStore.dayOf(4622129 + k * DealStateStore.EpochsPerDay)

  def partFiles(dir: String): Map[Int, Int] = {
    val v = new java.io.File(dir)
    v.listFiles().filter(_.getName.startsWith("epoch_day=")).map { d =>
      d.getName.stripPrefix("epoch_day=").toInt ->
        d.listFiles().count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    }.toMap
  }

  def newDir(name: String): String = java.nio.file.Files.createTempDirectory(name).toString

  def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(ActiveDeal.naturalKey.map(col): _*).collect().toSeq

  def jobsDuring(f: => Unit): Int = {
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try { f; Thread.sleep(500); jobs } // listener bus is async
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Pruned reads must drive the loops exactly as the full read does. */
  def assertPrunedMatchesFull(store: DealStateStore): Unit = {
    val full = store.read()
    val forResolve = store.read(store.openDays(_.openResolve))
    val forSubmit = store.read(store.openDays(_.openSubmit))
    for (maxDeals <- Seq(50, 10000))
      assert(ResolvePayloadCids.workQueue(forResolve, now, maxDeals).collect().toSeq ==
        ResolvePayloadCids.workQueue(full, now, maxDeals).collect().toSeq)
    assert(sorted(SubmitDeals.eligible(forSubmit, now)) == sorted(SubmitDeals.eligible(full, now)))
    val counts = ResolvePayloadCids.countsByState(full).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(store.stateCounts() == counts)
    assert(store.rowCount() == full.count())
  }

  test("_META day counters: per-state rows and the open-resolve / open-submit supersets") {
    val store = new DealStateStore(spark, newDir("day-counters"))
    store.write(fourDays())
    val days = store.days()
    assert(days.keySet == (0 to 3).map(dayOf).toSet)
    val stats = days.map { case (d, s) => d -> s.get }
    assert(stats(dayOf(0)) == DealStateStore.DayStats(360, Map(St.Resolved -> 360L), 0, 0))
    assert(stats(dayOf(1)) == DealStateStore.DayStats(360, Map(St.Resolved -> 360L), 0, 360))
    assert(stats(dayOf(2)) == DealStateStore.DayStats(360, Map(St.NotQueried -> 360L), 360, 0))
    val mixed = stats(dayOf(3))
    assert(mixed.openResolve > 0 && mixed.openSubmit > 0 &&
      mixed.openResolve + mixed.openSubmit == 360)
    assert(store.openDays(_.openResolve) == Set(dayOf(2), dayOf(3)))
    assert(store.openDays(_.openSubmit) == Set(dayOf(1), dayOf(3)))
    // the counters answer the telemetry without a Spark job
    assert(jobsDuring { store.stateCounts(); store.rowCount() } == 0)
    assertPrunedMatchesFull(store)
  }

  test("write and writeDelta leave exactly one part file per epoch-day") {
    val dir = newDir("one-file-per-day")
    val store = new DealStateStore(spark, dir)
    val v0 = store.write(fourDays())
    assert(partFiles(s"$dir/v=$v0") == (0 to 3).map(dayOf(_) -> 1).toMap)
    val v1 = store.writeDelta(store.read(Set(dayOf(1), dayOf(2))).repartition(4))
    assert(partFiles(s"$dir/v=$v1") == Map(dayOf(1) -> 1, dayOf(2) -> 1))
    assert(store.rowCount() == 4 * 360)
  }

  test("a submit tick's version holds only the days of the deals it POSTed") {
    val root = newDir("submit-days")
    val store = new DealStateStore(spark, s"$root/store")
    // plus a day activated within 2 days of `now`: half submitted
    // earlier, half open-submit but not yet eligible — it is read, but
    // nothing in it is POSTed, so it must not be rewritten
    val (done, waiting) = halves(dayOfDeals(150))
    store.write(fourDays()
      .unionByName(resolvedAs(done, "bafyYoung", Some(earlier)))
      .unionByName(resolvedAs(waiting, "bafyYoung", None)))
    val before = sorted(store.read())
    val cfg = DealObserverApp.Config(s"$root/events", s"$root/head.json",
      s"$root/store", s"$root/ckpt")
    val posted = scala.collection.mutable.ArrayBuffer.empty[Int]
    val res = DealObserverApp.submitTick(spark, cfg,
      rows => { posted ++= rows.map(_.getAs[Int]("activated_at_epoch")); (rows.length.toLong, 0L) },
      now)
    val postedDays = posted.map(DealStateStore.dayOf).toSet
    assert(postedDays == Set(dayOf(1), dayOf(3)))
    assert(res.postedDays == postedDays)
    val v = store.latestVersion.get
    // the settled day (ever-submitted deals) and the never-queried day
    // are carried forward by reference, not rewritten
    assert(partFiles(s"$root/store/v=$v").keySet == postedDays)
    val after = store.read()
    assert(after.count() == 5 * 360)
    assert(after.filter(col("payload_cid").isNotNull && col("submitted_at").isNull)
      .count() == waiting.count())
    assert(sorted(after.filter(!DealStateStore.dayCol.isin(postedDays.toSeq: _*))) ==
      before.filter(r => !postedDays.contains(DealStateStore.dayOf(r.getInt(0)))))
    // only the young day stays open; the next tick POSTs and writes nothing
    assert(store.openDays(_.openSubmit) == Set(dayOf(150)))
    assert(DealObserverApp.submitTick(spark, cfg, _ => fail("nothing is eligible"), now)
      .submitted == 0)
    assert(store.latestVersion.contains(v))
  }

  test("pruned reads match the full read: counter-less _META, tombstoned day, compacted store") {
    val dir = newDir("pruned-equivalence")
    val store = new DealStateStore(spark, dir)
    store.write(fourDays())
    // a delta re-opens the settled day for resolve: one sector's deals
    // go back to NOT_QUERIED
    val settled = store.read(Set(dayOf(0)))
    val reset = col("sector_id") === settled.agg(min("sector_id")).first().getLong(0)
    val reopened = settled
      .withColumn("payload_cid", when(reset, lit(null)).otherwise(col("payload_cid")))
      .withColumn("payload_retrievability_state",
        when(reset, lit(St.NotQueried)).otherwise(col("payload_retrievability_state")))
    store.writeDelta(reopened)
    assertPrunedMatchesFull(store)

    // the delta's _META in the older layout: its day counts as open
    val v = store.latestVersion.get
    val metaPath = java.nio.file.Paths.get(s"$dir/v=$v/_META")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(java.nio.file.Files.readAllBytes(metaPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    meta.remove(java.util.Arrays.asList("dayStates", "openResolve", "openSubmit"))
    java.nio.file.Files.write(metaPath, mapper.writeValueAsBytes(meta))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/v=$v/._META.crc"))
    assert(store.days()(dayOf(0)).isEmpty)
    assert(store.days()(dayOf(1)).isDefined)
    assert(store.openDays(_.openResolve) == Set(dayOf(0), dayOf(2), dayOf(3)))
    assert(store.openDays(_.openSubmit) == Set(dayOf(0), dayOf(1), dayOf(3)))
    assertPrunedMatchesFull(store)

    // a tombstoned open day stops resolving, counters included
    store.writeDelta(emptyState, tombstoneDays = Set(dayOf(2)))
    assert(!store.days().contains(dayOf(2)))
    assert(!store.openDays(_.openResolve).contains(dayOf(2)))
    assertPrunedMatchesFull(store)

    // compaction rewrites every day with full counters
    store.compact()
    assert(store.days().values.forall(_.isDefined))
    assert(store.openDays(_.openResolve) == Set(dayOf(0), dayOf(3)))
    assertPrunedMatchesFull(store)
  }
}

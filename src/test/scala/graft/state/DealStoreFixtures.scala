package graft.state

import graft.{SparkSpec, TestSpark}
import graft.ingest.DealIngest
import graft.model.{ActiveDeal, RawActorEvent, PayloadRetrievabilityState => St}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deal-store fixtures the store specs share: fixture days, a four-day
  * state with every loop shape, file and job counters, and the
  * pruned-vs-full read check. */
trait DealStoreFixtures extends SparkSpec {

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
    assert(sorted(SubmitDeals.eligible(store.read(store.submitDays(now)), now)) ==
      sorted(SubmitDeals.eligible(full, now)))
    val counts = ResolvePayloadCids.countsByState(full).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(store.stateCounts() == counts)
    assert(store.rowCount() == full.count())
  }
}

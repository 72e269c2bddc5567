package graft.state

import graft.functions.EpochFunctions
import graft.model.ActiveDeal
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The submit loop as a batch dataflow: select eligible deals, POST them
  * to the external API in batches, and flag the successfully submitted
  * rows.
  *
  * reference: backend/lib/spark-api-submit-deals.js:15-32 (outbox loop),
  * :53-72 (eligibility query), :89-101 (flag update), :111-142 (POST).
  */
object SubmitDeals {

  /** One deal in the external submit payload (f0-prefixed ids, string
    * piece size — reference spark-api-submit-deals.js:119-126). */
  final case class SubmittableDeal(
      minerId: String,
      clientId: String,
      pieceCid: String,
      pieceSize: String,
      payloadCid: String,
      expiresAt: java.sql.Timestamp)

  /** F3: unsubmitted, payload known, activated >2 days ago, term not yet
    * started+expired. reference: spark-api-submit-deals.js:53-72, with
    * the rationale for the 2-day delay at :34-46. */
  def eligible(state: DataFrame, now: java.sql.Timestamp): DataFrame = {
    val nowCol = lit(now)
    state
      .filter(col("submitted_at").isNull &&
        col("payload_cid").isNotNull &&
        col("activated_at_epoch") <
          EpochFunctions.timestampToEpoch(nowCol - expr("INTERVAL 2 DAYS")) &&
        EpochFunctions.epochToTimestamp(col("term_start_epoch") + col("term_min")) > nowCol)
  }

  /** Render the external payload columns (T5/T6). */
  def toSubmittable(deals: DataFrame): DataFrame =
    deals.select(
      concat(lit("f0"), col("miner_id")).as("minerId"),
      concat(lit("f0"), col("client_id")).as("clientId"),
      col("piece_cid").as("pieceCid"),
      col("piece_size").cast("string").as("pieceSize"),
      col("payload_cid").as("payloadCid"),
      EpochFunctions.epochToTimestamp(col("term_start_epoch") + col("term_min"))
        .as("expiresAt"))

  /** `postedDays`: the epoch-days of the deals POSTed this tick — the
    * only days whose rows `newState` changed. */
  final case class SubmitResult(
      submitted: Long, ingested: Long, skipped: Long, newState: DataFrame,
      postedDays: Set[Int])

  /** One submit tick. `post` is the injected external call (mirrors the
    * reference's DI of `submitEligibleDeals`); it returns
    * (ingested, skipped) and may throw — a failed batch is logged and
    * skipped without aborting the run (failure isolation, reference
    * spark-api-submit-deals.js:26-28).
    *
    * Batching note: the eligible set streams to the driver one batch at
    * a time via `toLocalIterator` — the Spark analog of the reference's
    * pg-cursor outbox (spark-api-submit-deals.js:56-63). Driver memory
    * holds ONE batch of full rows at a time (plus the natural keys of
    * successfully POSTed rows for the flag merge); the heavy lifting
    * (the eligibility scan + sort) stays distributed. F3's bound is
    * data-dependent — after a resolve backlog flush the set can be
    * millions of rows — so a full `collect()` here would be a
    * driver-OOM at scale.
    */
  def submit(
      state: DataFrame,
      now: java.sql.Timestamp,
      batchSize: Int,
      post: Seq[Row] => (Long, Long)): SubmitResult = {
    // Oldest first for deterministic batch composition. toLocalIterator
    // on the range-partitioned sort preserves global order and computes
    // one partition at a time.
    val it = eligible(state, now)
      .orderBy(col("activated_at_epoch").asc, col("miner_id"), col("piece_cid"))
      .toLocalIterator()

    val keyIdx = ActiveDeal.naturalKey.map(state.schema.fieldIndex)
    var submitted = 0L
    var ingested = 0L
    var skipped = 0L
    // Only the 9-column natural key of each POSTed row is retained —
    // the full payload rows are released batch by batch.
    val okKeys = Seq.newBuilder[Row]
    import scala.jdk.CollectionConverters._
    it.asScala.grouped(batchSize).foreach { batch =>
      try {
        val (i, s) = post(batch)
        submitted += batch.length
        ingested += i
        skipped += s
        okKeys ++= batch.map(r => Row.fromSeq(keyIdx.map(r.get)))
      } catch {
        case e: Exception =>
          System.err.println(s"[submit] batch failed, continuing: ${e.getMessage}")
      }
    }

    val doneKeys = okKeys.result()
    val newState =
      if (doneKeys.isEmpty) state
      else {
        val spark = state.sparkSession
        val keySchema = org.apache.spark.sql.types.StructType(
          ActiveDeal.naturalKey.map(n => state.schema(state.schema.fieldIndex(n))))
        val keyDf = spark.createDataFrame(
          spark.sparkContext.parallelize(doneKeys), keySchema)
          .withColumn("new_submitted_at", lit(now))
        state.join(broadcast(keyDf), ActiveDeal.naturalKey, "left")
          .withColumn("submitted_at", coalesce(col("new_submitted_at"), col("submitted_at")))
          .drop("new_submitted_at")
      }
    val epochIdx = ActiveDeal.naturalKey.indexOf("activated_at_epoch")
    SubmitResult(submitted, ingested, skipped, newState,
      doneKeys.map(k => DealStateStore.dayOf(k.getInt(epochIdx))).toSet)
  }
}

package graft.state

import graft.model.{ActiveDeal, PayloadRetrievabilityState => St}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

/** The resolve loop as a batch dataflow: pick the work queue, look up
  * each deal's payload CID, advance the retrievability state machine,
  * and merge the updates back into the state table.
  *
  * reference: backend/lib/resolve-payload-cids.js:32-66 (loop + queue),
  * :40-51 (state transitions), :20 (3-day retry gate).
  *
  * Spark restatement: the per-deal serial HTTP loop becomes one tick
  * body ([[tick]]) over the ≤ maxDeals work queue, collected once: a
  * minerId → peerId dimension (the LRU cache at
  * resolve-payload-cids.js:177-181, refreshed per batch), one
  * [[Lookup]] of the distinct (peerId, pieceCid) pairs — a fixture
  * table for tests and batch replays, or the `mapPartitions` HTTP
  * client with bounded concurrency in live mode — and the state
  * transitions on the driver. The merge is a broadcast left join of
  * the ≤ maxDeals update set against the state it is given — the big
  * side never shuffles. The app's resolve tick gives only the
  * epoch-days that hold open-resolve rows (`DealStateStore.openDays`),
  * a superset of the work queue's days.
  */
object ResolvePayloadCids {

  val ThreeDays = expr("INTERVAL 3 DAYS")

  /** F2 + W2: the oldest ≤maxDeals deals whose payload is still
    * resolvable and not attempted within the last 3 days.
    * reference: resolve-payload-cids.js:63-66 */
  def workQueue(state: DataFrame, now: java.sql.Timestamp, maxDeals: Int): DataFrame =
    state
      .filter(col("payload_cid").isNull &&
        col("payload_retrievability_state").isin(St.NotQueried, St.Unresolved) &&
        (col("last_payload_retrieval_attempt").isNull ||
          col("last_payload_retrieval_attempt") < lit(now) - ThreeDays))
      // full-key tiebreak: the limit boundary must be deterministic
      // across recomputations (delta writes re-derive the touched set)
      .orderBy(col("activated_at_epoch").asc, col("miner_id").asc,
        col("piece_cid").asc, col("sector_id").asc)
      .limit(maxDeals)

  /** A payload lookup: the tick's distinct (peerId, pieceCid) pairs →
    * `(peerId, pieceCid, payloadCid, error)` rows
    * ([[graft.sources.PieceIndexer.resultSchema]]). A null payloadCid
    * with a null error is a clean miss. */
  type Lookup = DataFrame => DataFrame

  /** The fixture adapter: a `(peerId, pieceCid, payloadCid)` table. */
  def tableLookup(table: DataFrame): Lookup = pairs =>
    pairs.join(table.select("peerId", "pieceCid", "payloadCid"), Seq("peerId", "pieceCid"), "left")
      .withColumn("error", lit(null).cast("string"))

  /** [[tick]] over this state's work queue and a fixture lookup table.
    * `now` is the injected clock (the reference threads it the same
    * way, resolve-payload-cids.js:32). */
  def resolve(state: DataFrame, peerIds: DataFrame, payloadLookup: DataFrame,
      now: java.sql.Timestamp, maxDeals: Int = 1000): DataFrame =
    tick(state, workQueue(state, now, maxDeals).collect().toSeq, peerIds,
      tableLookup(payloadLookup), now)

  /** [[tick]] over this state's work queue and the piece-indexer HTTP
    * client (S4). */
  def resolveLive(state: DataFrame, peerIds: DataFrame, pieceIndexerUrl: String,
      now: java.sql.Timestamp, maxDeals: Int = 1000, concurrency: Int = 4,
      retries: Int = 5): DataFrame =
    tick(state, workQueue(state, now, maxDeals).collect().toSeq, peerIds,
      graft.sources.PieceIndexer.lookup(_, pieceIndexerUrl, concurrency, retries), now)

  /** One resolve tick over the collected work queue (≤ maxDeals rows of
    * `state`): map each deal's miner ("f0…") to its peerId through the
    * `(minerId, peerId)` dimension, look up the distinct
    * (peerId, pieceCid) pairs once, advance the state machine, and
    * merge the updates into `state`. The contract→StateMinerInfo
    * fallback is the dimension's business ([[PeerIdDirectory]]).
    *
    * Failure isolation: a pair whose lookup still errors after the
    * retries gets NO state advance this tick (it stays in the queue for
    * the next one) — the reference instead aborts the whole loop
    * iteration on a persistent error (piece-indexer-service.js:43-45);
    * isolating the failing rows keeps one bad CID from stalling the
    * other ≤ maxDeals−1 resolutions.
    *
    * The pairs go to `lookup` as a local table, which Spark spreads
    * over min(pairs, cores) partitions; its ≤ maxDeals results come
    * back to the driver, so the merge never re-runs them. */
  def tick(state: DataFrame, queue: Seq[Row], peerIds: DataFrame, lookup: Lookup,
      now: java.sql.Timestamp): DataFrame = {
    val spark = state.sparkSession
    val peerOf = peerIds.select("minerId", "peerId").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def pairOf(r: Row): Option[(String, String)] =
      peerOf.get(s"f0${r.getAs[Int]("miner_id")}").map(_ -> r.getAs[String]("piece_cid"))
    val pairs = queue.flatMap(pairOf).distinct.map { case (p, c) => Row(p, c) }
    val looked = lookup(spark.createDataFrame(java.util.Arrays.asList(pairs: _*), PairSchema))
      .collect().map(r => (r.getAs[String]("peerId"), r.getAs[String]("pieceCid")) -> r).toMap

    // ST6 transitions (reference resolve-payload-cids.js:40-51):
    //   found               → Resolved
    //   miss, 1st attempt   → Unresolved
    //   miss, 2nd attempt   → TerminallyUnretrievable
    val updates = queue.flatMap { r =>
      val hit = pairOf(r).flatMap(looked.get)
      if (hit.exists(_.getAs[String]("error") != null)) None
      else {
        val found = hit.flatMap(h => Option(h.getAs[String]("payloadCid")))
        val next =
          if (found.isDefined) St.Resolved
          else if (r.getAs[java.sql.Timestamp]("last_payload_retrieval_attempt") != null)
            St.TerminallyUnretrievable
          else St.Unresolved
        Some(Row.fromSeq(ActiveDeal.naturalKey.map(r.getAs[Any]) ++ Seq(found.orNull, next, now)))
      }
    }
    merge(state, spark.createDataFrame(java.util.Arrays.asList(updates: _*), UpdateSchema))
  }

  private val PairSchema = StructType(Seq(
    StructField("peerId", StringType), StructField("pieceCid", StringType)))

  private val UpdateSchema = StructType(
    ActiveDeal.naturalKey.map(ActiveDeal.schema(_)) ++ Seq(
      StructField("new_payload_cid", StringType), StructField("new_state", StringType),
      StructField("new_attempt_ts", TimestampType)))

  /** Broadcast-merge the update set into the state snapshot (the Spark
    * analog of the reference's per-row UPDATE, resolve-payload-cids.js:107-123). */
  def merge(state: DataFrame, updates: DataFrame): DataFrame =
    state
      .join(broadcast(updates), ActiveDeal.naturalKey, "left")
      .withColumn("payload_cid", coalesce(col("new_payload_cid"), col("payload_cid")))
      .withColumn("payload_retrievability_state",
        coalesce(col("new_state"), col("payload_retrievability_state")))
      .withColumn("last_payload_retrieval_attempt",
        coalesce(col("new_attempt_ts"), col("last_payload_retrieval_attempt")))
      .drop("new_payload_cid", "new_state", "new_attempt_ts")

  /** A4 restated: one grouped count replaces the reference's four
    * per-state COUNT(*) round trips (resolve-payload-cids.js:93-97). */
  def countsByState(state: DataFrame): DataFrame =
    state.groupBy("payload_retrievability_state").count()
}

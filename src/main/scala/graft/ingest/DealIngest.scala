package graft.ingest

import graft.codec.EventCodec
import graft.model.ActiveDeal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The observe loop as a batch dataflow: raw events in an epoch range →
  * decode → project → dedup → anti-join existing state → append.
  *
  * Mirrors `observeBuiltinActorEvents` + `fetchAndStoreActiveDeals`
  * (reference: backend/lib/deal-observer.js:17-40) with the insert dedup
  * of `ON CONFLICT DO NOTHING` (deal-observer.js:102,
  * db/migrations/008.do.unique-constraint.sql) restated as
  * dropDuplicates + left-anti join. The whole ingest is idempotent:
  * replaying an epoch range is a no-op (ST2/ST5).
  */
object DealIngest {

  /** Finality lag: never ingest events younger than head − 940 epochs.
    * reference: backend/bin/deal-observer-backend.js:29-31 */
  val FinalityEpochs = 940

  /** Free-tier RPC lookback cap. reference: deal-observer-backend.js:32-33 */
  val MaxPastEpochs = 1999

  /** Decode a raw-event DataFrame (RawActorEvent schema) restricted to
    * `[fromEpoch, toEpoch]` into new active-deal rows. */
  def decodeRange(raw: DataFrame, fromEpoch: Int, toEpoch: Int): DataFrame =
    EventCodec.toActiveDeals(
      EventCodec.decodeBlockEvents(
        raw.filter(col("height").between(fromEpoch, toEpoch))))

  /** Dedup within the batch, then against existing state.
    *
    * Scale design: the natural key contains `activated_at_epoch`, so a
    * collision can only occur inside the batch's own epoch range. We
    * therefore prune `existing` to that range *before* the anti-join —
    * at 100 TB the state side collapses from the whole table to a few
    * partitions (the store partitions by epoch_day), and the pruned side
    * is small enough to broadcast. Without the pruning this would be a
    * full shuffle of the state table on every micro-batch.
    */
  def dedupeAgainst(newDeals: DataFrame, existing: DataFrame): DataFrame = {
    val key = ActiveDeal.naturalKey
    val range = newDeals.agg(
      min("activated_at_epoch").as("lo"), max("activated_at_epoch").as("hi"))
      .collect()(0)
    if (range.isNullAt(0)) return newDeals.limit(0)
    val (lo, hi) = (range.getInt(0), range.getInt(1))
    val pruned = existing
      .filter(col("activated_at_epoch").between(lo, hi))
      .select(key.map(col): _*)
    newDeals
      .dropDuplicates(key)
      .join(broadcast(pruned), key, "left_anti")
  }

  /** BEYOND-REFERENCE: reorg retraction. The reference stores reverted
    * events flagged and keeps a TODO for true reorg handling
    * (rpc-service/service.js:57-58) — parity mode does the same (ST4).
    * This operator implements the retraction the TODO describes: a
    * `reverted=true` observation for a natural key removes the
    * previously stored un-reverted row (the chain reorg un-happened the
    * claim), and the reverted observation itself is not ingested.
    *
    * Scale shape: the reverted key set of one finality window is tiny —
    * broadcast anti-join against the state pruned to the affected
    * epoch range; persisted via the store's day-partition rewrite
    * (replacing a day's files CAN drop rows; a day going completely
    * empty is deleted by a `_TOMBSTONES` sidecar, still O(changed) —
    * see DealStateStore.writeDelta). The caller must also roll the
    * ingest watermark back below the lowest retracted epoch
    * (writeDelta's `capWatermarkEpoch`) so the replacement chain's
    * events can re-enter the observe window. */
  def retractReverted(existing: DataFrame, revertedDeals: DataFrame): DataFrame = {
    val keys = revertedDeals.select(ActiveDeal.naturalKey.map(col): _*)
    existing.join(broadcast(keys), ActiveDeal.naturalKey, "left_anti")
  }

  /** One observe tick: compute the epoch window from the chain head and
    * the stored high-watermark, ingest it, and return the appended rows.
    * reference: backend/lib/deal-observer.js:17-28 */
  /** @param storedWatermark the store's high-watermark when the caller
    *   already knows it (DealStateStore.maxEpoch reads it O(1) from the
    *   `_META` sidecar). `None` falls back to a distributed `agg(max)`
    *   over `existing` — correct but a full state scan per tick, so the
    *   streaming loop always passes the sidecar value. */
  def observe(
      raw: DataFrame,
      existing: DataFrame,
      chainHeadHeight: Int,
      maxPastEpochs: Int = MaxPastEpochs,
      finalityEpochs: Int = FinalityEpochs,
      storedWatermark: Option[Option[Int]] = None): DataFrame = {
    // When finality exceeds the lookback cap the window is empty and the
    // tick is a no-op (reference deal-observer.test.js:274-277; the main
    // binary separately asserts the invariant at startup,
    // deal-observer-backend.js:34).
    val lastStored = storedWatermark.getOrElse {
      val watermark = existing.agg(max("activated_at_epoch")).collect()(0)
      if (watermark.isNullAt(0)) None else Some(watermark.getInt(0))
    }
    window(chainHeadHeight, lastStored, maxPastEpochs, finalityEpochs) match {
      case Some((startEpoch, endEpoch)) =>
        dedupeAgainst(decodeRange(raw, startEpoch, endEpoch), existing)
      case None => existing.limit(0)
    }
  }

  /** The epoch range one observe tick ingests: from just past the
    * stored watermark (but not before the lookback cap) to the finality
    * lag; None when empty. Every deal it appends, and every stored row
    * its dedup can collide with, lies inside it. */
  def window(
      chainHeadHeight: Int,
      lastStored: Option[Int],
      maxPastEpochs: Int = MaxPastEpochs,
      finalityEpochs: Int = FinalityEpochs): Option[(Int, Int)] = {
    val startEpoch = math.max(chainHeadHeight - maxPastEpochs,
      lastStored.fold(Int.MinValue)(_ + 1))
    val endEpoch = chainHeadHeight - finalityEpochs
    if (startEpoch > endEpoch) None else Some((startEpoch, endEpoch))
  }
}

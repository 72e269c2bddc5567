package graft.streaming

import graft.ingest.DealIngest
import graft.model.RawActorEvent
import graft.state.DealStateStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The observe loop as a Structured Streaming job.
  *
  * The reference polls the chain head every 10 s and ingests finalized
  * epochs (backend/bin/deal-observer-backend.js:43-74). Here the event
  * log is the streaming source (epoch-keyed files; a custom
  * MicroBatchStream RPC source slots in behind the same DataFrame), the
  * 10 s loop is `Trigger.ProcessingTime`, and each micro-batch runs the
  * same idempotent decode→dedup→append used in batch — so replay after
  * failure is safe with OR without the checkpoint (ST2/ST5: the natural
  * key dedup makes re-processing an epoch a no-op).
  *
  * Finality (ST3) is modeled where the reference models it: a gate at
  * the source on `height ≤ head − finality`, not an event-time
  * watermark — un-finalized epochs must not enter the plan at all.
  */
object DealObserverStream {

  /** Start the streaming observe loop.
    *
    * @param eventsPath  directory of raw-event JSON files (epoch-keyed log)
    * @param storeRoot   DealStateStore root
    * @param chainHead   head-height supplier, consulted per micro-batch
    *                    (the reference's ChainHead RPC, service.js:92-99)
    */
  def start(
      spark: SparkSession,
      eventsPath: String,
      storeRoot: String,
      checkpoint: String,
      chainHead: () => Int,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      finalityEpochs: Int = DealIngest.FinalityEpochs,
      maxPastEpochs: Int = DealIngest.MaxPastEpochs,
      metrics: Option[MetricsSink] = None,
      retractReverts: Boolean = false): StreamingQuery = {

    val raw = spark.readStream
      .schema(RawActorEvent.schema)
      .json(eventsPath)

    raw.writeStream
      .queryName("deal-observer")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val head = chainHead()
        val store = new DealStateStore(batch.sparkSession, storeRoot)
        // BEYOND-REFERENCE opt-in (ST4+): a reverted re-delivery carries
        // the ORIGINAL epoch (≤ the stored watermark), so it is decoded
        // from the full batch, not the new-epoch window. The lookback
        // cap bounds it below — one bogus ancient height must not widen
        // the touched-day range to the whole table.
        val reverts =
          if (retractReverts)
            graft.codec.EventCodec.toActiveDeals(
              graft.codec.EventCodec.decodeBlockEvents(
                batch.filter(col("reverted") && col("height")
                  .between(head - maxPastEpochs, head - finalityEpochs)))).cache()
          else batch.sparkSession.createDataFrame(
            batch.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            graft.model.ActiveDeal.schema)
        val nr = if (retractReverts) reverts.count() else 0L
        // this tick's retraction lowers the observe window IMMEDIATELY:
        // replacement events delivered in the same batch as the revert
        // markers must not be filtered out by the pre-rollback watermark
        // (a file source never re-delivers a batch)
        val (revertLo, revertHi): (Option[Int], Option[Int]) =
          if (nr == 0) (None, None)
          else {
            val r = reverts.agg(min("activated_at_epoch"),
              max("activated_at_epoch")).collect()(0)
            (Some(r.getInt(0)), Some(r.getInt(1)))
          }
        // O(1) watermark from the _META sidecar (floor-capped) — never
        // agg(max) over the state table inside a 10 s tick
        val effectiveWm = (store.maxEpoch(), revertLo) match {
          case (Some(w), Some(lo)) => Some(math.min(w, lo - 1))
          case (w, _) => w
        }
        // the dedup can only collide with stored rows of the window's
        // own epochs (the natural key holds the epoch): read those days
        val window = DealIngest.window(head, effectiveWm, maxPastEpochs, finalityEpochs)
          .map { case (lo, hi) => (DealStateStore.dayOf(lo), DealStateStore.dayOf(hi)) }
        val existing = store.read(d => window.exists { case (lo, hi) => lo <= d && d <= hi })
        // dedup against the POST-retraction state: a same-batch
        // replacement carrying the identical natural key must not be
        // anti-joined away by the row it replaces
        val baseState =
          if (nr > 0) DealIngest.retractReverted(existing, reverts) else existing
        val appended = DealIngest.observe(
          if (retractReverts) batch.filter(!col("reverted")) else batch,
          baseState, head, maxPastEpochs, finalityEpochs,
          storedWatermark = Some(effectiveWm))
        val n = appended.cache().count()
        if (n > 0 || nr > 0) {
          // delta write: replace only the epoch-days this batch touched
          // (existing rows of those days, minus retracted keys, plus the
          // new rows) — an ingest tick costs O(touched days), never
          // O(table)
          val r = appended.unionByName(reverts).agg(
            min("activated_at_epoch").as("lo"), max("activated_at_epoch").as("hi"))
            .collect()(0)
          val loDay = DealStateStore.dayOf(r.getInt(0))
          val hiDay = DealStateStore.dayOf(r.getInt(1))
          val touched = store.read(d => d >= loDay && d <= hiDay)
          // parity default: plain append path, no retraction plan nodes
          val newDays =
            if (nr > 0) DealIngest.retractReverted(touched, reverts)
              .unionByName(appended)
            else touched.unionByName(appended)
          // a reorg that empties a whole epoch-day deletes it by
          // TOMBSTONE (day-number sidecar), so even that shape costs
          // O(changed days) — never a full rewrite
          val emptiedDays: Set[Int] =
            if (nr == 0) Set.empty
            else {
              val before = touched.select(DealStateStore.dayCol.as("d")).distinct()
              val after = newDays.select(DealStateStore.dayCol.as("d")).distinct()
              before.join(after, Seq("d"), "left_anti")
                .collect().map(_.getInt(0)).toSet
            }
          // A retraction opens a persistent rescan floor: every future
          // observe window keeps including the retracted epochs —
          // across appends AND compaction. Clearing is AGE-based, not
          // receipt-based: a "first re-delivery arrived" signal is
          // unsafe (a replacement chain spread over several
          // micro-batches would close the floor after the first one and
          // lose the rest), and no per-batch signal can prove the LAST
          // replacement arrived. The floor simply stays open — holding
          // the observe window down to the retracted epochs, where
          // natural-key dedup makes re-scans no-ops — until the span is
          // provably unreachable: the test is the span's CEILING (the
          // highest retracted epoch, persisted beside the floor), since
          // the floor alone would age out while higher retracted epochs
          // were still inside the lookback window. Once ceil < head −
          // maxPastEpochs no retracted epoch can enter any window
          // (observe clamps at head − maxPastEpochs) — moot, dropped.
          // Cost while open ≤ the same maxPastEpochs window a cold
          // start scans. A same-batch NEW retraction still records its
          // own floor/ceiling via lower/raise after the aged one clears.
          val spanAgedOut =
            store.rescanCeil().exists(c => c < head - maxPastEpochs)
          store.writeDelta(newDays, tombstoneDays = emptiedDays,
            lowerRescanFloor = revertLo,
            raiseRescanCeil = revertHi,
            clearRescanFloor = spanAgedOut)
          if (store.chainDepth() > 32) store.compact()
        }
        // S12: per-tick counters to the metrics table (the reference's
        // recordTelemetry call at the end of each loop body)
        metrics.foreach(_.record("observe", Map(
          "ingested" -> n,
          "retracted" -> nr,
          "last_searched_epoch" -> (head - finalityEpochs).toLong)))
        appended.unpersist()
        if (retractReverts) reverts.unpersist()
        ()
      }
      .start()
  }

  /** Streaming telemetry: per-trigger counts by retrievability state over
    * the event stream — the reference's four COUNT(*) telemetry queries
    * as one windowed grouped count (ST1 + A4). */
  def stateCountsStream(spark: SparkSession, eventsPath: String): DataFrame =
    spark.readStream
      .schema(RawActorEvent.schema)
      .json(eventsPath)
      .groupBy(col("height"))
      .agg(count(lit(1)).as("n_events"))

  /** ST5, fully-streaming variant: decode the event stream and drop
    * natural-key duplicates inside the engine's dedup state instead of
    * anti-joining the store. The watermark on epoch-derived event time
    * bounds that state — duplicates can only arrive within the finality
    * window, so `withWatermark(finality)` + dropDuplicatesWithinWatermark
    * is exactly the reference's uniqueness guarantee with O(window)
    * state instead of O(table). The snapshot-store anti-join path
    * (`start`) remains the replay-safe batch formulation. */
  def dedupedDealStream(
      spark: SparkSession,
      eventsPath: String,
      watermark: String = "8 hours"): DataFrame = {
    val decoded = graft.codec.EventCodec.toActiveDeals(
      graft.codec.EventCodec.decodeBlockEvents(
        spark.readStream.schema(RawActorEvent.schema).json(eventsPath)))
    decoded
      .withColumn("event_time",
        graft.functions.EpochFunctions.epochToTimestamp(col("activated_at_epoch")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(graft.model.ActiveDeal.naturalKey)
  }
}

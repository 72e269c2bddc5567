package graft.state

import graft.model.{ActiveDeal, PayloadRetrievabilityState => St}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The resolve loop as a batch dataflow: pick the work queue, look up
  * each deal's payload CID, advance the retrievability state machine,
  * and merge the updates back into the state table.
  *
  * reference: backend/lib/resolve-payload-cids.js:32-66 (loop + queue),
  * :40-51 (state transitions), :20 (3-day retry gate).
  *
  * Spark restatement: the per-deal serial HTTP loop becomes two left
  * joins — a broadcast dimension join (minerId → peerId; the LRU cache
  * at resolve-payload-cids.js:177-181 becomes a broadcast variable
  * refreshed per batch) and a lookup join against the piece indexer
  * (injected as a DataFrame for tests / batch replays; a `mapPartitions`
  * HTTP client with bounded concurrency in live mode). The state
  * transition is a `when/otherwise` column program; the merge is a
  * broadcast left join of the ≤maxDeals update set against the state
  * it is given — the big side never shuffles. The app's resolve tick
  * gives only the epoch-days that hold open-resolve rows
  * (`DealStateStore.openDays`), a superset of the work queue's days.
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

  /** One resolve tick.
    *
    * @param peerIds        minerId ("f0…" string) → peerId dimension
    * @param payloadLookup  (peerId, pieceCid) → payloadCid lookup table
    * @param now            injected clock (reference threads `now` the
    *                       same way, resolve-payload-cids.js:32)
    * @return `state` with this tick's updates merged in
    */
  def resolve(
      state: DataFrame,
      peerIds: DataFrame,
      payloadLookup: DataFrame,
      now: java.sql.Timestamp,
      maxDeals: Int = 1000): DataFrame =
    resolveWithFallback(state, peerIds, None, payloadLookup, now, maxDeals)

  /** One resolve tick with the full peerId fallback chain: the primary
    * dimension (the miner→peerId smart contract) coalesced with a
    * fallback dimension (the `Filecoin.StateMinerInfo` RPC) — the Spark
    * restatement of `getIndexProviderPeerId`'s try-contract-then-RPC
    * chain (reference resolve-payload-cids.js:125-155 via the
    * index-provider-peer-id package). Both dims are broadcast; the
    * resulting `peer_source` column mirrors the reference's
    * `{ peerId, source }` pair. */
  def resolveWithFallback(
      state: DataFrame,
      peerIdsPrimary: DataFrame,
      peerIdsFallback: Option[DataFrame],
      payloadLookup: DataFrame,
      now: java.sql.Timestamp,
      maxDeals: Int = 1000): DataFrame =
    applyTick(state, workQueue(state, now, maxDeals),
      peerIdsPrimary, peerIdsFallback, payloadLookup, now, excludePairs = None)

  /** Live resolve tick (S4): the payload-lookup side is fetched from the
    * piece-indexer HTTP service for exactly this tick's distinct
    * (peerId, pieceCid) pairs via the bounded-concurrency
    * `mapPartitions` client ([[graft.sources.PieceIndexer]]).
    *
    * Failure isolation: a pair whose request still fails after the
    * retries gets NO state advance this tick (it stays in the queue for
    * the next one) — the reference instead aborts the whole loop
    * iteration on a persistent error (piece-indexer-service.js:43-45);
    * isolating the failing rows keeps one bad CID from stalling the
    * other ≤ maxDeals−1 resolutions. A clean `PROVIDER_OR_PIECE_NOT_
    * FOUND` miss advances the retry state machine exactly like the
    * injected-lookup path.
    *
    * The lookups run once, here: their ≤ maxDeals results are collected
    * into a local table, so the merge never re-runs the HTTP calls and
    * nothing stays cached. The work queue is not cached here either; a
    * caller that reuses it (the app's resolve tick) caches it. */
  def resolveLive(
      state: DataFrame,
      peerIdsPrimary: DataFrame,
      peerIdsFallback: Option[DataFrame],
      pieceIndexerUrl: String,
      now: java.sql.Timestamp,
      maxDeals: Int = 1000,
      concurrency: Int = 4,
      retries: Int = 5): DataFrame = {
    val queue = workQueue(state, now, maxDeals)
    val pairs = joinPeer(queue, peerIdsPrimary, peerIdsFallback)
      .filter(col("peerId").isNotNull)
      .select(col("peerId"), col("piece_cid").as("pieceCid"))
      .distinct()
    val remote = graft.sources.PieceIndexer.lookup(pairs, pieceIndexerUrl, concurrency, retries)
    val looked = state.sparkSession.createDataFrame(
      java.util.Arrays.asList(remote.collect(): _*), remote.schema)
    val hits = looked.filter(col("payloadCid").isNotNull)
      .select("peerId", "pieceCid", "payloadCid")
    val errored = looked.filter(col("error").isNotNull)
      .select(col("peerId"), col("pieceCid").as("piece_cid"))
    applyTick(state, queue, peerIdsPrimary, peerIdsFallback, hits, now,
      excludePairs = Some(errored))
  }

  /** The peerId fallback chain as joins: primary (smart contract) dim
    * coalesced with the optional fallback (StateMinerInfo) dim. */
  private def joinPeer(
      queue: DataFrame,
      peerIdsPrimary: DataFrame,
      peerIdsFallback: Option[DataFrame]): DataFrame = {
    val primaryJoined = queue
      .withColumn("f0_miner", concat(lit("f0"), col("miner_id")))
      .join(broadcast(peerIdsPrimary.select(
          col("minerId").as("f0_miner"), col("peerId").as("peer_primary"))),
        Seq("f0_miner"), "left")
    (peerIdsFallback match {
      case Some(fb) => primaryJoined
        .join(broadcast(fb.select(
            col("minerId").as("f0_miner"), col("peerId").as("peer_fallback"))),
          Seq("f0_miner"), "left")
      case None => primaryJoined.withColumn("peer_fallback", lit(null).cast("string"))
    })
      .withColumn("peerId", coalesce(col("peer_primary"), col("peer_fallback")))
      .drop("peer_primary", "peer_fallback")
  }

  private def applyTick(
      state: DataFrame,
      queue: DataFrame,
      peerIdsPrimary: DataFrame,
      peerIdsFallback: Option[DataFrame],
      payloadLookup: DataFrame,
      now: java.sql.Timestamp,
      excludePairs: Option[DataFrame]): DataFrame = {
    val withPeerAll = joinPeer(queue, peerIdsPrimary, peerIdsFallback)
    val withPeer = excludePairs match {
      case Some(ex) =>
        withPeerAll.join(broadcast(ex), Seq("peerId", "piece_cid"), "left_anti")
      case None => withPeerAll
    }

    val looked = withPeer
      .join(broadcast(payloadLookup.select(
          col("peerId"), col("pieceCid").as("piece_cid"),
          col("payloadCid").as("found_payload_cid"))),
        Seq("peerId", "piece_cid"), "left")

    // ST6 transitions (reference resolve-payload-cids.js:40-51):
    //   found               → Resolved
    //   miss, 1st attempt   → Unresolved
    //   miss, 2nd attempt   → TerminallyUnretrievable
    val updates = looked.select(
      (ActiveDeal.naturalKey.map(col) :+
        col("found_payload_cid").as("new_payload_cid") :+
        when(col("found_payload_cid").isNotNull, St.Resolved)
          .when(col("last_payload_retrieval_attempt").isNotNull, St.TerminallyUnretrievable)
          .otherwise(St.Unresolved).as("new_state") :+
        lit(now).as("new_attempt_ts")): _*)

    merge(state, updates)
  }

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

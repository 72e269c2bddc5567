package graft.pipeline

import graft.{SparkSpec, TestSpark}
import graft.codec.EventCodec
import graft.ingest.DealIngest
import graft.model.{ActiveDeal, RawActorEvent, PayloadRetrievabilityState => St}
import graft.state.{DealStateStore, ResolvePayloadCids, SubmitDeals}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden-fixture replay of the full observe → resolve → submit pipeline.
  *
  * Fixtures are the reference's captured mainnet data (31k-line
  * rawActorEvent.js decoded once to NDJSON): 360 claim events over epochs
  * 4622129–4622139. Expected counts come from the reference test suite
  * (backend/test/deal-observer.test.js:255-264,
  * backend/test/resolve-payload-cids.test.js:42-51,160-166).
  */
class DealPipelineSpec extends SparkSpec {

  lazy val raw: DataFrame = spark.read
    .schema(RawActorEvent.schema)
    .json(s"${TestSpark.fixtures}/rawActorEvents.json")
    .cache()

  lazy val peerIds: DataFrame =
    spark.read.json(s"${TestSpark.fixtures}/minerPeerIds.json")

  lazy val payloadCids: DataFrame =
    spark.read.json(s"${TestSpark.fixtures}/payloadCids.json")

  val ChainHead = 4622139 // fixture chain head height

  def emptyState: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ActiveDeal.schema)

  test("decodes all 360 fixture events across 11 epochs") {
    val deals = DealIngest.decodeRange(raw, 4622129, 4622139)
    assert(deals.count() == 360)
    assert(deals.select("activated_at_epoch").distinct().count() == 11)
  }

  test("oldest visible epoch holds 25 deals (reference: maxPast=11, finality=10)") {
    // reference deal-observer.test.js:261-266 — only epoch head−10 visible
    val appended = DealIngest.observe(raw, emptyState,
      chainHeadHeight = ChainHead, lastStored = None, maxPastEpochs = 11, finalityEpochs = 10)
    assert(appended.count() == 25)
    assert(appended.agg(max("activated_at_epoch")).collect()(0).getInt(0) == 4622129)
  }

  test("finality > lookback stores nothing; single-epoch window stores one height") {
    // reference deal-observer.test.js:273-283
    assert(DealIngest.observe(raw, emptyState, ChainHead, None,
      maxPastEpochs = 11, finalityEpochs = 12).count() == 0)
    val one = DealIngest.observe(raw, emptyState, ChainHead, None,
      maxPastEpochs = 11, finalityEpochs = 10)
    assert(one.select("activated_at_epoch").distinct().count() == 1)
  }

  test("epochs 4622129-4622138 hold 336 deals") {
    assert(DealIngest.decodeRange(raw, 4622129, 4622138).count() == 336)
  }

  test("piece sizes decode as 64-bit (32 GiB exemplar present)") {
    val deals = DealIngest.decodeRange(raw, 4622129, 4622139)
    assert(deals.filter(col("piece_size") === 34359738368L).count() > 0)
  }

  test("ingest is idempotent: replaying the same range appends nothing") {
    val first = DealIngest.dedupeAgainst(
      DealIngest.decodeRange(raw, 4622129, 4622139), emptyState)
    val replay = DealIngest.dedupeAgainst(
      DealIngest.decodeRange(raw, 4622129, 4622139), first)
    assert(first.count() == 360)
    assert(replay.count() == 0)
  }

  test("within-batch duplicates collapse to one row") {
    val deals = DealIngest.decodeRange(raw, 4622129, 4622139)
    val doubled = deals.union(deals)
    assert(DealIngest.dedupeAgainst(doubled, emptyState).count() == 360)
  }

  test("observe computes the epoch window from head, finality and watermark") {
    // head - finality(940) covers everything; empty state → full backfill
    val appended = DealIngest.observe(raw, emptyState, chainHeadHeight = ChainHead + 940,
      lastStored = None, maxPastEpochs = 1999, finalityEpochs = 940)
    assert(appended.count() == 360)
    // resume: watermark at 4622138 → only the newest epoch (24 events) remains
    val state336 = DealIngest.dedupeAgainst(
      DealIngest.decodeRange(raw, 4622129, 4622138), emptyState)
    val tail = DealIngest.observe(raw, state336, chainHeadHeight = ChainHead + 940,
      lastStored = Some(4622138), maxPastEpochs = 1999, finalityEpochs = 940)
    assert(tail.count() == 24)
    // finality gate: head too close → nothing ingested
    val gated = DealIngest.observe(raw, emptyState, chainHeadHeight = ChainHead,
      lastStored = None, maxPastEpochs = 1999, finalityEpochs = 940)
    assert(gated.filter(col("activated_at_epoch") > ChainHead - 940).count() == 0)
  }

  test("resolve: 336-deal state resolves all but 85 payloads (golden)") {
    val state = DealIngest.dedupeAgainst(
      DealIngest.decodeRange(raw, 4622129, 4622138), emptyState).cache()
    val now = java.sql.Timestamp.valueOf("2025-01-15 00:00:00")
    val resolved = ResolvePayloadCids.resolve(state, peerIds, payloadCids, now,
      maxDeals = 10000).cache()
    assert(resolved.count() == 336)
    assert(resolved.filter(col("payload_cid").isNull).count() == 85)
    assert(resolved.filter(col("payload_retrievability_state") === St.Resolved)
      .count() == 336 - 85)
    assert(resolved.filter(col("payload_retrievability_state") === St.Unresolved)
      .count() == 85)
    // every attempted deal carries the attempt timestamp
    assert(resolved.filter(col("last_payload_retrieval_attempt") === lit(now))
      .count() == 336)
  }

  test("peerId fallback chain: primary misses resolve via the fallback dim (golden 85)") {
    // split the fixture dimension in two: half the miners only known to
    // the smart contract, half only to StateMinerInfo — the directory's
    // chain over the two lookups must reproduce the golden resolve exactly
    val primary = peerIds.filter(abs(hash(col("minerId"))) % 2 === 0)
    val fallback = peerIds.filter(abs(hash(col("minerId"))) % 2 =!= 0)
    assert(primary.count() > 0 && fallback.count() > 0)
    def half(df: DataFrame): Map[String, String] =
      df.collect().map(r => r.getAs[String]("minerId") -> r.getAs[String]("peerId")).toMap
    val (contract, minerInfo) = (half(primary), half(fallback))
    val state = DealIngest.dedupeAgainst(
      DealIngest.decodeRange(raw, 4622129, 4622138), emptyState).cache()
    val miners = state.select(concat(lit("f0"), col("miner_id"))).distinct()
      .collect().map(_.getString(0)).toSeq
    val now = java.sql.Timestamp.valueOf("2025-01-15 00:00:00")
    val dim = new graft.state.PeerIdDirectory(contract.get, minerInfo.get)
      .refreshed(spark, miners, now.getTime)
    assert(dim.select("peer_source").distinct().collect().map(_.getString(0)).toSet ==
      Set("smartContract", "stateMinerInfo"))
    val resolved = ResolvePayloadCids.resolve(
      state, dim, payloadCids, now, maxDeals = 10000).cache()
    assert(resolved.count() == 336)
    assert(resolved.filter(col("payload_cid").isNull).count() == 85)
    assert(resolved.filter(col("payload_retrievability_state") === St.Resolved)
      .count() == 336 - 85)
    // primary-only dim with no fallback: the fallback-half miners miss
    val contractOnly = new graft.state.PeerIdDirectory(contract.get, _ => None)
      .refreshed(spark, miners, now.getTime)
    val partial = ResolvePayloadCids.resolve(
      state, contractOnly, payloadCids, now, maxDeals = 10000)
    assert(partial.filter(col("payload_cid").isNotNull).count() < 336 - 85)
  }

  test("PeerIdDirectory: contract→StateMinerInfo chain, 1h TTL, LRU cap") {
    var contractCalls = 0
    var rpcCalls = 0
    val dir = new graft.state.PeerIdDirectory(
      contractLookup = m => { contractCalls += 1
        if (m == "f01000") Some("peerA") else None },
      stateMinerInfoLookup = m => { rpcCalls += 1
        if (m == "f02000") Some("peerB") else None },
      ttlMillis = 1000L, maxEntries = 2)

    val t0 = 1000000L
    assert(dir.lookup("f01000", t0).contains(("peerA", "smartContract")))
    assert(dir.lookup("f02000", t0).contains(("peerB", "stateMinerInfo")))
    assert(dir.lookup("f09999", t0).isEmpty) // both sources miss
    assert((contractCalls, rpcCalls) == (3, 2))

    // cache hit inside TTL: no new lookups
    assert(dir.lookup("f01000", t0 + 500).contains(("peerA", "smartContract")))
    assert(contractCalls == 3)
    // TTL expiry forces a refetch
    assert(dir.lookup("f01000", t0 + 1500).contains(("peerA", "smartContract")))
    assert(contractCalls == 4)

    // LRU cap 2: a third distinct entry evicts the oldest
    val dir2 = new graft.state.PeerIdDirectory(
      m => Some(s"peer-$m"), _ => None, ttlMillis = 1000000L, maxEntries = 2)
    dir2.lookup("f01", t0); dir2.lookup("f02", t0); dir2.lookup("f03", t0)
    assert(dir2.size == 2)

    // refreshed() warms the queue's miners and yields the join dim
    val dim = dir.refreshed(spark, Seq("f01000", "f02000"), t0 + 5000)
    assert(dim.columns.toSeq == Seq("minerId", "peerId", "peer_source"))
    assert(dim.count() == 2)

    // expired entries are never served: when the refresh for an expired
    // miner fails (both lookups miss), the stale peerId must not appear
    // in lookup results OR the snapshot dim (reference 1h-TTL LRU)
    var healthy = true
    val dir3 = new graft.state.PeerIdDirectory(
      m => if (healthy) Some(s"peer-$m") else None, _ => None,
      ttlMillis = 1000L)
    assert(dir3.lookup("f05", t0).contains(("peer-f05", "smartContract")))
    healthy = false
    assert(dir3.lookup("f05", t0 + 500).isDefined) // inside TTL: cache hit
    assert(dir3.lookup("f05", t0 + 1500).isEmpty)  // expired + refresh fails
    assert(dir3.refreshed(spark, Seq("f05"), t0 + 1500).count() == 0)
    assert(dir3.size == 0, "failed refresh evicts the expired entry")
    // an un-refreshed expired entry is withheld from the snapshot too
    healthy = true
    dir3.lookup("f06", t0)
    assert(dir3.snapshot(spark, t0 + 1500).count() == 0)
  }

  test("resolve state machine: miss → Unresolved → TerminallyUnretrievable; 3-day gate") {
    val now0 = java.sql.Timestamp.valueOf("2025-01-15 00:00:00")
    val deal = DealIngest.dedupeAgainst(
      DealIngest.decodeRange(raw, 4622129, 4622129), emptyState).limit(1).cache()
    val emptyLookup = payloadCids.limit(0)

    // 1st attempt: miss → Unresolved
    val s1 = ResolvePayloadCids.resolve(deal, peerIds, emptyLookup, now0).cache()
    assert(s1.select("payload_retrievability_state").collect()(0).getString(0) == St.Unresolved)

    // retry too soon (now + 1 day < 3-day gate) → untouched
    val now1 = java.sql.Timestamp.valueOf("2025-01-16 00:00:00")
    val s2 = ResolvePayloadCids.resolve(s1, peerIds, emptyLookup, now1).cache()
    assert(s2.select("last_payload_retrieval_attempt").collect()(0)
      .getTimestamp(0) == now0)

    // after 3 days: 2nd miss → TerminallyUnretrievable
    val now3 = java.sql.Timestamp.valueOf("2025-01-19 00:00:00")
    val s3 = ResolvePayloadCids.resolve(s2, peerIds, emptyLookup, now3).cache()
    assert(s3.select("payload_retrievability_state").collect()(0).getString(0) ==
      St.TerminallyUnretrievable)

    // terminal states never retried
    val now6 = java.sql.Timestamp.valueOf("2025-01-25 00:00:00")
    val s4 = ResolvePayloadCids.resolve(s3, peerIds, emptyLookup, now6)
    assert(s4.select("last_payload_retrieval_attempt").collect()(0)
      .getTimestamp(0) == now3)
  }

  test("resolve: found payload → Resolved and never re-queued") {
    val now = java.sql.Timestamp.valueOf("2025-01-15 00:00:00")
    val deal = DealIngest.dedupeAgainst(
      DealIngest.decodeRange(raw, 4622129, 4622138), emptyState).cache()
    val s1 = ResolvePayloadCids.resolve(deal, peerIds, payloadCids, now, 10000).cache()
    val queue = ResolvePayloadCids.workQueue(s1,
      java.sql.Timestamp.valueOf("2025-02-15 00:00:00"), 10000)
    // only the 85 unresolved remain eligible
    assert(queue.count() == 85)
    assert(queue.filter(col("payload_retrievability_state") === St.Resolved).count() == 0)
  }

  test("submit: eligibility matrix matches the reference seed (2 of 5)") {
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2025-06-15 00:00:00")
    val nowMs = now.getTime
    def epochAt(daysOffset: Int): Int =
      graft.functions.EpochFunctions.unixToEpoch(nowMs / 1000 + daysOffset * 86400L).toInt
    def ts(daysOffset: Int) = new java.sql.Timestamp(nowMs + daysOffset * 86400000L)

    // Mirror of the reference seed (spark-api-submit-deals.test.js:24-38):
    // (createdAt, startsAt→expiresAt via term, payloadCid?)
    def mk(id: Int, created: Int, starts: Int, expires: Int, payload: Option[String]) =
      ActiveDeal(epochAt(created), id, id, s"baga$id", 1000L,
        epochAt(starts), epochAt(expires) - epochAt(starts), 100000000,
        id.toLong, reverted = false, payload, St.NotQueried, None, None)

    val state = Seq(
      mk(1, -3, 0, 10, Some("bafy1")),  // eligible
      mk(2, -5, -1, 5, Some("bafy2")),  // eligible
      mk(3, -3, 0, 10, None),           // no payload
      mk(4, 0, 0, 10, Some("bafy4")),   // too recent
      mk(5, -10, -10, -5, Some("bafy5"))// expired
    ).toDF()

    assert(SubmitDeals.eligible(state, now).count() == 2)

    var posted = 0
    val res = SubmitDeals.submit(state, now, batchSize = 1,
      post = rows => { posted += 1; (rows.length.toLong, 0L) })
    assert(res.submitted == 2 && res.ingested == 2 && res.skipped == 0)
    assert(posted == 2)
    assert(res.newState.filter(col("submitted_at").isNotNull).count() == 2)

    // failure isolation: first batch throws, second succeeds
    var calls = 0
    val res2 = SubmitDeals.submit(state, now, batchSize = 1,
      post = rows => { calls += 1
        if (calls == 1) throw new RuntimeException("submit failed")
        (rows.length.toLong, 0L) })
    assert(res2.submitted == 1)
    assert(res2.newState.filter(col("submitted_at").isNotNull).count() == 1)
  }

  test("submittable payload renders f0 ids and string piece size") {
    val deals = DealIngest.dedupeAgainst(
      DealIngest.decodeRange(raw, ChainHead, ChainHead), emptyState)
    val out = SubmitDeals.toSubmittable(
      deals.withColumn("payload_cid", lit("bafyx")))
    val row = out.limit(1).collect()(0)
    assert(row.getAs[String]("minerId").startsWith("f0"))
    assert(row.getAs[String]("pieceSize").forall(_.isDigit))
  }

  test("state store: versioned snapshot round-trip with epoch_day partitioning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val store = new DealStateStore(spark, dir)
    assert(store.latestVersion.isEmpty)
    assert(store.read().count() == 0)

    val deals = DealIngest.dedupeAgainst(
      DealIngest.decodeRange(raw, 4622129, 4622139), emptyState)
    store.write(deals)
    assert(store.latestVersion.contains(0L))
    assert(store.read().count() == 360)
    assert(store.read().schema.fieldNames.toSeq == ActiveDeal.schema.fieldNames.toSeq)

    store.write(store.read().filter(col("activated_at_epoch") =!= ChainHead))
    assert(store.latestVersion.contains(1L))
    assert(store.read().count() == 336)
  }

  test("reverted events are stored with the flag and countable (ST4/A3/F5)") {
    import spark.implicits._
    // fixture has zero reverted events; synthesize a reverted copy of
    // one event (reference stores + counts, no reorg logic — same TODO)
    val one = raw.limit(1).as[RawActorEvent].collect()(0)
    val revertedRaw = Seq(one.copy(reverted = true, height = one.height + 1))
      .toDS().toDF()
    val deals = DealIngest.dedupeAgainst(
      DealIngest.decodeRange(raw.unionByName(revertedRaw), 4622129, 4622140),
      emptyState)
    assert(deals.count() == 361)
    assert(deals.filter(col("reverted")).count() == 1)
    // the reverted copy is a distinct natural key (different epoch) and
    // flows through resolve untouched
    val counts = ResolvePayloadCids.countsByState(deals).collect()
    assert(counts.map(_.getLong(1)).sum == 361)
  }

  test("counts by state replaces four per-state scans with one groupBy") {
    val deals = DealIngest.dedupeAgainst(
      DealIngest.decodeRange(raw, 4622129, 4622139), emptyState)
    val counts = ResolvePayloadCids.countsByState(deals).collect()
    assert(counts.length == 1)
    assert(counts(0).getString(0) == St.NotQueried && counts(0).getLong(1) == 360)
  }
}

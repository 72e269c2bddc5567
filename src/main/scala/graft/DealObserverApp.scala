package graft

import graft.state.{DealStateStore, ResolvePayloadCids, SubmitDeals}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import scala.util.Try

/** The reference backend binary restated: three loops over one state
  * store (reference: backend/bin/deal-observer-backend.js:165-173).
  *
  *   observe — streaming query over the epoch event source
  *   resolve — per-tick batch: work queue → peerIds → lookups → state machine
  *   submit  — per-tick batch: eligibility → POST batches → flag
  *
  * Resolve and submit run as timed ticks between micro-batches (they
  * touch disjoint columns from observe's appends; the snapshot store
  * serializes writers). Transports (peerId dim, payload lookup, POST)
  * are injected, mirroring the reference's DI style
  * (resolve-payload-cids.js:32, spark-api-submit-deals.js:15). There is
  * one resolve tick body; `resolveTick` feeds it the fixture tables and
  * `resolveTickLive` the peerId directory and the piece-indexer client,
  * each as a dimension and a [[ResolvePayloadCids.Lookup]]: the table
  * adapter `ResolvePayloadCids.tableLookup`, or `PieceIndexer.lookup`.
  *
  * Run: `runMain graft.DealObserverApp <eventLog> <headFile> <storeRoot>
  * <checkpoint> [maxTicks]` — file-transport demo wiring; a deployment
  * swaps the lambdas.
  */
object DealObserverApp {

  final case class Config(
      eventLog: String,
      headFile: String,
      storeRoot: String,
      checkpoint: String,
      loopIntervalSecs: Int = 10, // reference LOOP_INTERVAL, bin:27
      maxDeals: Int = 1000, // resolutions per tick, bin:128
      submitBatchSize: Int = 100) { // bin:18
    /** S12: the metrics table lives beside the store's version dirs. */
    def metricsRoot: String = s"$storeRoot/_metrics"
  }

  def observeQuery(spark: SparkSession, cfg: Config, chainHead: () => Int,
      trigger: Trigger): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.DealObserverStream.start(
      spark, cfg.eventLog, cfg.storeRoot, cfg.checkpoint, chainHead, trigger,
      metrics = Some(new graft.streaming.MetricsSink(spark, cfg.metricsRoot)))

  /** The resolve tick over the fixture tables (demo wiring). */
  def resolveTick(
      spark: SparkSession, cfg: Config,
      peerIds: DataFrame, payloadLookup: DataFrame,
      now: java.sql.Timestamp): Unit =
    resolveTick(spark, cfg, now, _ => peerIds, ResolvePayloadCids.tableLookup(payloadLookup))

  /** The resolve tick with LIVE transports on both lookup legs
    * (reference deployment shape): the peerId dimension is `directory`'s
    * contract→StateMinerInfo chain refreshed for exactly this tick's
    * distinct work-queue miners (≤ maxDeals — the reference's per-deal
    * loop, batched), and the payloads come from the piece-indexer HTTP
    * client. Selected by `main` when `GRAFT_RPC_URLS` +
    * `GRAFT_PEERID_CONTRACT` + `GRAFT_PIECE_INDEXER_URL` are set. */
  def resolveTickLive(
      spark: SparkSession, cfg: Config,
      directory: graft.state.PeerIdDirectory,
      pieceIndexerUrl: String,
      now: java.sql.Timestamp): Unit =
    resolveTick(spark, cfg, now, directory.refreshed(spark, _, now.getTime),
      graft.sources.PieceIndexer.lookup(_, pieceIndexerUrl))

  /** One resolve tick: read the days that hold open-resolve rows,
    * collect the work queue once (its size, days and miners), build the
    * peerId dimension for those miners, run [[ResolvePayloadCids.tick]]
    * with `lookup`, write back the queue's days, record the telemetry. */
  private def resolveTick(spark: SparkSession, cfg: Config, now: java.sql.Timestamp,
      peerIds: Seq[String] => DataFrame, lookup: ResolvePayloadCids.Lookup): Unit = {
    val store = new DealStateStore(spark, cfg.storeRoot)
    val open = store.openDays(_.openResolve)
    if (open.isEmpty) return
    val state = store.read(open)
    val queue = ResolvePayloadCids.workQueue(state, now, cfg.maxDeals).collect()
    if (queue.isEmpty) return
    val dim = peerIds(queue.map(r => s"f0${r.getAs[Int]("miner_id")}").distinct.toSeq)
    val days = queue.map(r => DealStateStore.dayOf(r.getAs[Int]("activated_at_epoch"))).toSet
    store.writeDelta(ResolvePayloadCids.tick(state, queue.toSeq, dim, lookup, now)
      .filter(DealStateStore.dayCol.isInCollection(days)))
    // S12: reference resolve loop telemetry (resolve-payload-cids.js:93-97),
    // plus the store's footprint gauges in the same write
    val fp = store.footprint()
    new graft.streaming.MetricsSink(spark, cfg.metricsRoot).record("resolve",
      store.stateCounts() ++ Map("queued" -> queue.length.toLong,
        "store_chain_depth" -> fp.chainDepth.toLong, "store_day_files" -> fp.dayFiles,
        "store_day_bytes" -> fp.dayBytes), now)
  }

  /** One submit tick over the days that hold open-submit rows whose
    * terms have not all ended (`DealStateStore.submitDays`); the new
    * version rewrites only the days of the deals POSTed this tick. */
  def submitTick(
      spark: SparkSession, cfg: Config,
      post: Seq[Row] => (Long, Long),
      now: java.sql.Timestamp): SubmitDeals.SubmitResult = {
    val store = new DealStateStore(spark, cfg.storeRoot)
    val open = store.submitDays(now)
    val state = store.read(open)
    if (open.isEmpty) return SubmitDeals.SubmitResult(0, 0, 0, state, Set.empty)
    val res = SubmitDeals.submit(state, now, cfg.submitBatchSize, post)
    if (res.submitted > 0) {
      store.writeDelta(res.newState.filter(DealStateStore.dayCol.isInCollection(res.postedDays)))
      // S12: reference submit loop telemetry (spark-api-submit-deals.js:23-25)
      new graft.streaming.MetricsSink(spark, cfg.metricsRoot).record("submit",
        Map("submitted" -> res.submitted, "ingested" -> res.ingested,
          "skipped" -> res.skipped), now)
    }
    res
  }

  /** One tick of `main`: the named loops in order, each in its own
    * `Try`. A failing loop prints its error and records `failed = 1`
    * under its name in `_metrics`, and the tick goes on with the next
    * loop, as the reference swallows and reports a loop's error
    * (bin:58-60). Returns the names of the loops that failed. */
  def runTick(spark: SparkSession, cfg: Config, now: java.sql.Timestamp,
      loops: Seq[(String, () => Unit)]): Seq[String] =
    loops.flatMap { case (name, body) =>
      Try(body()).failed.toOption.map { e =>
        System.err.println(s"[$name] loop failed: $e")
        e.printStackTrace()
        Try(new graft.streaming.MetricsSink(spark, cfg.metricsRoot)
          .record(name, Map("failed" -> 1L), now))
        name
      }
    }

  def main(args: Array[String]): Unit = {
    val cfg = Config(args(0), args(1), args(2), args(3))
    val maxTicks = if (args.length > 4) args(4).toInt else 1
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .appName("deal-observer")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.GraftFunctions.registerAll(spark)

    // S13: liveness route (reference api/lib/app.js:16-18)
    val health = new HealthServer(
      port = sys.env.getOrElse("GRAFT_HEALTH_PORT", "0").toInt,
      healthy = () => !spark.sparkContext.isStopped)
    val healthPort = health.start()
    println(s"[health] listening on :$healthPort")

    def chainHead(): Int = {
      val src = scala.io.Source.fromFile(cfg.headFile)
      try com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .readTree(src.mkString).get("Height").asInt
      finally src.close()
    }

    // LIVE resolve transports when configured (reference env shape:
    // RPC_URLS / GLIF_TOKEN, config.js:7-21); demo fixture tables
    // beside the event log otherwise
    val liveDirectory = for {
      urls <- sys.env.get("GRAFT_RPC_URLS").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      contract <- sys.env.get("GRAFT_PEERID_CONTRACT")
    } yield graft.sources.MinerPeerIdClient.directory(
      urls, contract, authToken = sys.env.get("GRAFT_GLIF_TOKEN"))
    val livePieceIndexer = sys.env.get("GRAFT_PIECE_INDEXER_URL")
    val live = liveDirectory.zip(livePieceIndexer)
    if (live.isDefined) println("[resolve] live transports configured")

    lazy val peer = spark.read.json(s"${cfg.eventLog}/../minerPeerIds.json")
    lazy val pay = spark.read.json(s"${cfg.eventLog}/../payloadCids.json")

    var tick = 0
    while (tick < maxTicks) {
      val now = new java.sql.Timestamp(System.currentTimeMillis())
      var submitted = 0L
      runTick(spark, cfg, now, Seq(
        "observe" -> (() =>
          observeQuery(spark, cfg, chainHead _, Trigger.AvailableNow()).awaitTermination()),
        "resolve" -> (() => live match {
          case Some((dir, url)) => resolveTickLive(spark, cfg, dir, url, now)
          case None => resolveTick(spark, cfg, peer, pay, now)
        }),
        "submit" -> (() => submitted = submitTick(spark, cfg,
          rows => { println(s"[submit] POST batch of ${rows.length}"); (rows.length.toLong, 0L) },
          now).submitted)))
      val rows = Try(new DealStateStore(spark, cfg.storeRoot).rowCount()).fold(_ => "?", _.toString)
      println(s"[tick $tick] state=$rows submitted=$submitted")
      tick += 1
      if (tick < maxTicks) Thread.sleep(cfg.loopIntervalSecs * 1000L)
    }
    health.stop()
    spark.stop()
  }
}

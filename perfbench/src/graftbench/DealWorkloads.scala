package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.DealObserverApp
import graft.model.{ActiveDeal, PayloadRetrievabilityState => St}
import graft.state.DealStateStore

/** One deal-loop instance over generated files: an event log with its
  * head file, a state store with its checkpoint, and the three stub
  * transports. The three tick calls are the engine's public entry points,
  * called the way `DealObserverApp.main` calls them. */
final class DealRig(ctx: Ctx, val dir: Path, val gen: Gen, seed: Long, faultShare: Double) {
  val stubs = new Stubs(gen.fx, seed, faultShare)
  val log = new EventLog(dir.resolve("chain/events"), dir.resolve("chain/head.json"))
  val redelivery = new Redelivery(DealWorkloads.RedeliveryShare, seed)
  var cfg: DealObserverApp.Config = _
  var directory: graft.state.PeerIdDirectory = _
  private var headOf: () => Int = _
  use("run", log)

  /** Point the loops at a fresh store and checkpoint (a cold start,
    * including an empty peerId cache) reading `events`. */
  def use(name: String, events: EventLog): Unit = {
    cfg = DealObserverApp.Config(events.dir.toString, events.headFile.toString,
      dir.resolve(s"$name/store").toString, dir.resolve(s"$name/checkpoint").toString)
    directory = graft.sources.MinerPeerIdClient.directory(Seq(stubs.rpcUrl), stubs.Contract)
    headOf = () => events.readHead()
  }

  def store = new DealStateStore(ctx.spark, cfg.storeRoot)
  def storePath: Path = Paths.get(cfg.storeRoot)

  // ---- the injected submit transport: JSON POST with retries ----
  private val http = HttpClient.newHttpClient()
  val postLatMs = mutable.ArrayBuffer.empty[Double]
  var postCalls, postFailed, epochMismatch = 0L
  /** Deals per traced epoch accepted during the current submit call. */
  val postedNow = mutable.Map.empty[Int, Int]

  val post: Seq[Row] => (Long, Long) = rows => {
    val body = rows.map(DealWorkloads.render).mkString("[", ",", "]")
    val t0 = System.nanoTime()
    postCalls += 1
    try {
      val r = graft.sources.Retry.withRetries() {
        val resp = http.send(HttpRequest.newBuilder(URI.create(stubs.submitUrl))
          .header("content-type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() != 200)
          throw new java.io.IOException(s"submit HTTP ${resp.statusCode()}")
        val n = Fixture.mapper.readTree(resp.body())
        (n.get("ingested").asLong, n.get("skipped").asLong)
      }
      rows.foreach { row =>
        val e = Gen.epochOfClient(row.getAs[Int]("client_id").toLong)
        if (e != row.getAs[Int]("activated_at_epoch")) epochMismatch += 1
        postedNow(e) = postedNow.getOrElse(e, 0) + 1
      }
      r
    } catch {
      case e: Exception => postFailed += 1; throw e
    } finally postLatMs += (System.nanoTime() - t0) / 1e6
  }

  def observe(): Unit = {
    ctx.trace.span("streaming.observe") {
      DealObserverApp.observeQuery(ctx.spark, cfg, headOf, Trigger.AvailableNow())
        .awaitTermination()
    }
    depth.sample()
  }
  def resolve(now: java.sql.Timestamp): Unit = {
    ctx.trace.span("state.resolve") {
      DealObserverApp.resolveTickLive(ctx.spark, cfg, directory, stubs.pieceIndexerUrl, now)
    }
    depth.sample()
  }
  def submit(now: java.sql.Timestamp): Long = {
    val n = ctx.trace.span("state.submit") {
      DealObserverApp.submitTick(ctx.spark, cfg, post, now).submitted
    }
    depth.sample()
    n
  }

  /** Delta-chain depth after each state-writing call (traced runs only:
    * reading it lists the store). A drop is a compaction. */
  object depth {
    var max, compactions, last = 0
    def reset(): Unit = { max = 0; compactions = 0; last = 0 }
    def sample(): Unit = if (ctx.trace.enabled) {
      val d = store.chainDepth()
      if (d < last) compactions += 1
      last = d
      max = math.max(max, d)
    }
  }

  /** Zero the transport and depth counters at the window's start. */
  def resetCounters(): Unit = {
    stubs.resetStats()
    postLatMs.clear(); postCalls = 0; postFailed = 0
    depth.reset()
  }

  def close(): Unit = { stubs.close(); Main.deleteTree(dir) }
}

/** The `tail` and `catchup` workloads. */
object DealWorkloads {
  // Chosen stress values, not measured rates: the share of events a flaky
  // RPC node hands out twice, and (catchup only) the share of request keys
  // whose first request is a 503. Tail runs without faults, so no retry
  // backoff sleeps inside its timings.
  val RedeliveryShare = 0.03
  val CatchupFaultShare = 0.05
  val SetupReps = 3

  // tail: settled history, a closed-loop catch-up tick, then an open-loop chain
  val TailBase = 4500000
  val HistoryReplicas = 131 // × 11 epochs ≈ half a day at mainnet density
  // earlier ticks' deltas of the newest epoch-day: with the catch-up tick's
  // three the window opens at chain depth 6, inside the engine's 1…33
  // compaction cycle. Each costs a write job (about 0.5 s on 4 cores) in
  // each of the three set-ups, which is why there are not more
  val HistoryDeltas = 2
  val BacklogReplicas = 2 // 22 epochs, 720 deals: one resolve tick drains them
  val ChainRate = 1.0 // finalized epochs per second: 30× mainnet

  // catchup: the whole finalized lookback window at several × density
  val CatchupBase = 4600000
  val CatchupDensity = 2
  val CatchupEpochsPerFile = 100
  val CatchupTicks = 3

  def render(r: Row): String = {
    val exp = java.time.Instant.ofEpochSecond(Gen.epochSeconds(
      r.getAs[Int]("term_start_epoch") + r.getAs[Int]("term_min")))
    s"""{"minerId":"f0${r.getAs[Int]("miner_id")}","clientId":"f0${r.getAs[Int]("client_id")}",""" +
      s""""pieceCid":"${r.getAs[String]("piece_cid")}","pieceSize":"${r.getAs[Long]("piece_size")}",""" +
      s""""payloadCid":"${r.getAs[String]("payload_cid")}","expiresAt":"$exp"}"""
  }

  /** The submit tuple a resolvable deal must be POSTed as. */
  def tuple(d: Deal): String =
    s"f0${d.miner}|f0${d.client}|${d.pieceCid}|${d.pieceSize}|${d.payload.get}"

  private val dealSchema = StructType(Seq(
    StructField("activated_at_epoch", IntegerType), StructField("miner_id", IntegerType),
    StructField("client_id", IntegerType), StructField("piece_cid", StringType),
    StructField("piece_size", LongType), StructField("term_start_epoch", IntegerType),
    StructField("term_min", IntegerType), StructField("term_max", IntegerType),
    StructField("sector_id", LongType), StructField("exp_payload", StringType)))

  private def dealRow(d: Deal): Row = Row(d.epoch, d.miner.toInt, d.client.toInt, d.pieceCid,
    d.pieceSize, d.termStart.toInt, d.termMin.toInt, d.termMax.toInt, d.sector, d.payload.orNull)

  def dealsDf(ctx: Ctx, deals: Seq[Deal]): DataFrame =
    ctx.spark.createDataFrame(deals.map(dealRow).asJava, dealSchema)

  /** `replicas` fixture replicas from `base`, one epoch span each, as
    * expected-deal rows (natural key + expected payload). */
  def replicatedDf(ctx: Ctx, gen: Gen, replicas: Int): DataFrame = {
    val fx = gen.fx
    val one = dealsDf(ctx, fx.events.map(fe => gen.deal(fe, fe.height - fx.firstHeight, 0)))
    ctx.spark.range(replicas).crossJoin(one)
      .withColumn("activated_at_epoch",
        col("activated_at_epoch") + lit(gen.base) + col("id").cast("int") * fx.span)
      .withColumn("client_id", col("activated_at_epoch") * Gen.ClientStride)
      .drop("id")
  }

  /** Settled history: every replica resolved and submitted long ago, or
    * terminally unretrievable — rows no loop will pick up again. */
  def settled(expected: DataFrame): DataFrame = {
    def at(offsetS: Long) = timestamp_seconds(
      col("activated_at_epoch").cast("long") * 30L + lit(1598306400L + offsetS))
    val hit = col("exp_payload").isNotNull
    expected.select(ActiveDeal.naturalKey.map(col) ++ Seq(
      lit(false).as("reverted"),
      col("exp_payload").as("payload_cid"),
      when(hit, lit(St.Resolved)).otherwise(lit(St.TerminallyUnretrievable))
        .as("payload_retrievability_state"),
      at(3600L).as("last_payload_retrieval_attempt"),
      when(hit, at(3 * 86400L)).as("submitted_at")): _*)
  }

  private def nanos(f: => Unit): Long = { val t0 = System.nanoTime(); f; System.nanoTime() - t0 }

  // ------------------------------------------------------------------ tail

  def tail(ctx: Ctx): Unit = {
    val fx = ctx.fixture
    val historyEnd = TailBase + HistoryReplicas * fx.span - 1
    val backlogEnd = historyEnd + BacklogReplicas * fx.span
    val rig = ctx.setupRepeated(SetupReps) { i =>
      val rig = new DealRig(ctx, ctx.work.resolve(s"tail-$i"), new Gen(fx, TailBase, 1), ctx.seed,
        faultShare = 0.0)
      val store = rig.store
      val dayStart = historyEnd / store.EpochsPerDay * store.EpochsPerDay
      store.write(settled(replicatedDf(ctx, rig.gen, HistoryReplicas)))
      val newestDay = settled(dealsDf(ctx, (dayStart to historyEnd).flatMap(rig.gen.dealsAt)))
        .cache()
      (1 to HistoryDeltas).foreach(_ => store.writeDelta(newestDay))
      newestDay.unpersist()
      (historyEnd + 1 to backlogEnd).foreach { e =>
        rig.log.append(rig.redelivery.mix(e, rig.gen.linesAt(e)))
      }
      rig.log.setHead(backlogEnd + Gen.FinalityEpochs)
      rig
    }(_.close())

    // ---- catch-up tick (closed loop): a cold-start observe of the
    // backlog, one resolve and one submit over its deals ----
    val r = ctx.report
    val backlog = (historyEnd + 1 to backlogEnd).flatMap(rig.gen.dealsAt)
    val catchupNow = Gen.nowFor(rig.log.readHead())
    val loop = new OpenLoop(rig, backlogEnd + 1)
    // the observe call reads every backlog file
    val rawIn = rig.log.events
    var catchObs, catchRes, catchSub, posted = 0L
    val warm = Try {
      catchObs = nanos(rig.observe())
      // the chain starts once the backlog is in: the window's first tick
      // ingests what came out during the catch-up resolve and submit
      loop.start()
      catchRes = nanos(rig.resolve(catchupNow))
      catchSub = nanos { posted = rig.submit(catchupNow) }
    }
    r.op(warm.isSuccess, s"catch-up tick failed: ${warm.failed.map(_.toString).getOrElse("")}")
    ctx.log(f"catch-up: observe ${catchObs / 1e9}%.2f resolve ${catchRes / 1e9}%.2f " +
      f"submit ${catchSub / 1e9}%.2f raw $rawIn posted $posted")

    // ---- timed window (open loop) ----
    ctx.trace.spans.clear()
    rig.resetCounters()
    val files0 = rig.log.files
    val ticks, tickCpu = mutable.ArrayBuffer.empty[Double]
    val visibleAt = mutable.Map.empty[Int, Long]
    val submittedAt = mutable.Map.empty[Int, Long]
    val postedBy = mutable.Map.empty[Int, Int]
    var seen = backlogEnd
    // the generator's progress as the last observe began: every epoch
    // final by then must be in the store at the end
    var beforeLast = backlogEnd
    def tick(): Unit = {
      val now = Gen.nowFor(rig.log.readHead())
      beforeLast = loop.lastEpoch
      rig.postedNow.clear()
      var tObs, tRes, tSub = 0L
      val c0 = Main.cpuNs()
      val ok = Try {
        tObs = nanos(rig.observe())
        val visible = System.nanoTime()
        val m = rig.store.maxEpoch().getOrElse(seen)
        (seen + 1 to m).foreach(e => visibleAt(e) = visible)
        seen = math.max(seen, m)
        tRes = nanos(rig.resolve(now))
        tSub = nanos(rig.submit(now))
        val done = System.nanoTime()
        rig.postedNow.foreach { case (e, n) =>
          postedBy(e) = postedBy.getOrElse(e, 0) + n
          if (postedBy(e) == rig.gen.dealsAt(e).count(_.payload.isDefined)) submittedAt(e) = done
        }
      }
      r.op(ok.isSuccess, s"tail tick failed: ${ok.failed.map(_.toString).getOrElse("")}")
      ticks += (tObs + tRes + tSub) / 1e9
      tickCpu += (Main.cpuNs() - c0) / 1e9
      ctx.log(f"tick: observe ${tObs / 1e9}%.2f resolve ${tRes / 1e9}%.2f " +
        f"submit ${tSub / 1e9}%.2f store max $seen head ${rig.log.readHead()}")
    }
    val t0 = System.nanoTime()
    // the last tick starts only if half of it fits in the window
    while (ticks.isEmpty || System.nanoTime() - t0 + ticks.last / 2 * 1e9 < ctx.seconds * 1e9)
      tick()
    val heap = ctx.heapLiveMb()
    loop.halt()

    def sec(ns: Long) = ns / 1e9
    val fresh = visibleAt.toSeq.map { case (e, t) => sec(t - loop.dueNs(e)) }
    val lag = submittedAt.toSeq.map { case (e, t) => sec(t - loop.dueNs(e)) }
    r.e2e("tick_cpu_s", Stats.median(tickCpu.toSeq), "s")
    r.info("freshness_p50_s", Stats.quantile(fresh, 0.5))
    r.info("freshness_p95_s", Stats.quantile(fresh, 0.95))
    r.info("submit_lag_p50_s", Stats.median(lag))
    r.info("tick_p50_s", Stats.median(ticks.toSeq))
    r.check(fresh.nonEmpty && lag.nonEmpty, "tail window saw no epoch become visible and submitted")
    // the catch-up resolve's queue, by the `now` it was given
    val advanced = queued(ctx, rig).filter(_._1 == catchupNow).map(_._2).sum
    r.check(advanced == backlog.size, s"catch-up resolve looked up $advanced of ${backlog.size} deals")
    r.check(posted == backlog.count(_.payload.isDefined),
      s"catch-up submit POSTed $posted of ${backlog.count(_.payload.isDefined)} resolvable deals")
    r.info("ingest_events_per_s", Some(rawIn / (catchObs / 1e9)))
    r.info("resolve_deals_per_s", Some(advanced / (catchRes / 1e9)))
    r.info("submit_deals_per_s", Some(posted / (catchSub / 1e9)))

    // ---- output checks ----
    val stored = rig.store.maxEpoch().getOrElse(0)
    r.check(stored >= beforeLast,
      s"store max epoch $stored, but $beforeLast was final before the last observe")
    val ingestedDeals = (historyEnd + 1 to stored).flatMap(rig.gen.dealsAt)
    val expected = replicatedDf(ctx, rig.gen, HistoryReplicas).withColumn("settled", lit(true))
      .unionByName(dealsDf(ctx, ingestedDeals).withColumn("settled", lit(false)))
    checkStore(ctx, rig, expected, ingestedDeals, fullyResolved = true)
    r.e2e("disk_bytes_per_row",
      Some(Main.treeBytes(rig.storePath).toDouble / rig.store.read().count()), "B/row")
    r.e2e("heap_live_mb", Some(heap), "MB")

    if (ctx.trace.enabled) {
      layerMetrics(ctx, rig, _.after(catchupNow))
      // the window's observe calls read the files of the epochs after the
      // backlog up to the stored watermark (every fixture epoch has events,
      // so every epoch has a file)
      val out = loop.published(stored)
      val windowDeals = (backlogEnd + 1 to stored).map(rig.gen.dealsAt(_).size).sum
      val in = math.max(1L, out.events).toDouble
      r.layer("ingest.dup_share", Some(out.redelivered / in), "ratio")
      r.layer("codec.decode_yield", Some(windowDeals / in), "ratio")
      r.layer("sources.event_files", Some((rig.log.files - files0).toDouble), "count")
      r.layer("bench.gen_late_s", Stats.quantile(loop.lateS, 0.95), "s")
    }
    rig.close()
  }

  /** Generator output: events written, and how many were re-deliveries. */
  final case class Published(events: Long, redelivered: Long)

  /** The open-loop chain: epoch `firstEpoch + k` is due to become final
    * `(k + 1) / ChainRate` seconds after the loop's start; at its due
    * time its events file lands and the head moves past it. */
  final class OpenLoop(rig: DealRig, firstEpoch: Int) extends Thread("graftbench-chain") {
    setDaemon(true)
    @volatile private var stopped = false
    private var t0 = 0L
    @volatile private var last = firstEpoch - 1
    private val late = mutable.ArrayBuffer.empty[Double]
    private val out = mutable.Map.empty[Int, Published]

    def dueNs(e: Int): Long = t0 + ((e - firstEpoch + 1) / ChainRate * 1e9).toLong
    /** The last epoch out. */
    def lastEpoch: Int = last
    def lateS: Seq[Double] = synchronized(late.toSeq)
    /** Events and re-deliveries written from the first epoch through `e`. */
    def published(e: Int): Published = synchronized(out.getOrElse(e, Published(0L, 0L)))

    override def start(): Unit = { t0 = System.nanoTime(); super.start() }

    override def run(): Unit = {
      var e = firstEpoch
      var total = Published(0L, 0L)
      while (!stopped) {
        val wait = dueNs(e) - System.nanoTime()
        if (wait > 0) Thread.sleep(math.min(wait / 1000000L + 1, 50L))
        else {
          val before = rig.redelivery.redelivered
          val lines = rig.redelivery.mix(e, rig.gen.linesAt(e))
          rig.log.append(lines)
          rig.log.setHead(e + Gen.FinalityEpochs)
          total = Published(total.events + lines.size,
            total.redelivered + rig.redelivery.redelivered - before)
          synchronized {
            out(e) = total
            late += (System.nanoTime() - dueNs(e)) / 1e9
          }
          last = e
          e += 1
        }
      }
    }

    def halt(): Unit = { stopped = true; join() }
  }

  /** Work-queue sizes of the resolve ticks, by the `now` each tick was
    * given, from the program's own metrics table. */
  private def queued(ctx: Ctx, rig: DealRig): Seq[(java.sql.Timestamp, Long)] =
    new graft.streaming.MetricsSink(ctx.spark, rig.cfg.metricsRoot).table()
      .filter(col("loop") === "resolve" && col("metric") === "queued")
      .select("ts", "value").collect().map(row => (row.getTimestamp(0), row.getLong(1))).toSeq

  /** Transport gauges plus the three deal spans; `measured` picks the
    * resolve ticks of the measured part by the `now` they were given. */
  private def layerMetrics(ctx: Ctx, rig: DealRig, measured: java.sql.Timestamp => Boolean): Unit = {
    val r = ctx.report
    ctx.trace.metrics.foreach { case (n, v, u) => r.layer(n, Some(v), u) }
    val s = rig.stubs
    r.layer("sources.pix.calls", Some(s.pix.calls.toDouble), "count")
    r.layer("sources.pix.p50_ms", s.pix.p50Ms, "ms")
    r.layer("sources.pix.retried", Some(s.pix.faults.toDouble), "count")
    r.layer("sources.pix.failed", Some(s.pix.failed.toDouble), "count")
    r.layer("sources.pix.hit_ratio", s.pix.hitRatio, "ratio")
    r.layer("sources.rpc.calls", Some(s.rpc.calls.toDouble), "count")
    r.layer("sources.rpc.p50_ms", s.rpc.p50Ms, "ms")
    r.layer("sources.rpc.failed", Some(s.rpc.failed.toDouble), "count")
    r.layer("sources.post.calls", Some(rig.postCalls.toDouble), "count")
    r.layer("sources.post.p50_ms", Stats.median(rig.postLatMs.toSeq), "ms")
    r.layer("sources.post.failed", Some(rig.postFailed.toDouble), "count")
    val q = queued(ctx, rig).collect { case (now, n) if measured(now) => n.toDouble }
    r.layer("state.queue_per_tick", Some(if (q.isEmpty) 0.0 else q.sum / q.size), "deals")
    r.layer("state.chain_depth_max", Some(rig.depth.max.toDouble), "count")
    r.layer("state.compactions", Some(rig.depth.compactions.toDouble), "count")
  }

  /** Store-side output checks shared by both deal workloads.
    *
    * `expected`: natural key + `exp_payload` + `settled` (history rows
    * that must come through untouched). `fresh`: the generated deals
    * the loops ingested in this run. With `fullyResolved`, every fresh
    * deal must have been looked up; otherwise the looked-up ones must be
    * a prefix of the work-queue order. */
  def checkStore(ctx: Ctx, rig: DealRig, expected: DataFrame, fresh: Seq[Deal],
      fullyResolved: Boolean): Unit = {
    val r = ctx.report
    val key = ActiveDeal.naturalKey
    val state = rig.store.read().cache()
    val n = state.count()
    val want = expected.cache().count()
    r.check(n == want, s"store holds $n deals, expected $want")
    r.check(state.select(key.map(col): _*).distinct().count() == n,
      "store holds duplicate natural keys")
    val joined = state.join(expected, key, "full_outer").cache()
    r.check(joined.filter(col("settled").isNull || col("payload_retrievability_state").isNull)
      .count() == 0, "store and generated deal set differ")
    // the stubs' hit rule: resolved iff the piece indexer knows the pair
    val st = col("payload_retrievability_state")
    val good = (col("settled") && (
        (col("exp_payload").isNotNull && st === St.Resolved &&
          col("payload_cid") === col("exp_payload") && col("submitted_at").isNotNull) ||
        (col("exp_payload").isNull && st === St.TerminallyUnretrievable))) ||
      (!col("settled") && (
        (col("exp_payload").isNotNull && st === St.Resolved &&
          col("payload_cid") === col("exp_payload")) ||
        (col("exp_payload").isNull && st === St.Unresolved) ||
        (lit(!fullyResolved) && st === St.NotQueried && col("payload_cid").isNull)))
    val bad = joined.filter(!coalesce(good, lit(false))).count()
    r.check(bad == 0, s"$bad deals disagree with the stubs' hit rule")
    // nothing resolvable may be left unsubmitted
    val pending = state.filter(col("payload_cid").isNotNull && col("submitted_at").isNull).count()
    r.check(pending == 0, s"$pending resolved deals were never submitted")
    // the looked-up deals are a prefix of the work-queue order
    val advanced = joined.filter(!col("settled") && st =!= St.NotQueried)
      .select("activated_at_epoch", "miner_id", "client_id", "piece_cid", "sector_id")
      .collect().map(row => (row.getInt(0), row.getInt(1).toLong, row.getInt(2).toLong,
        row.getString(3), row.getLong(4))).toSet
    val order = Ordering.Tuple4[Int, Long, String, Long]
    val freshAdvanced = fresh.filter(d => advanced.contains(
      (d.epoch, d.miner, d.client, d.pieceCid, d.sector)))
    if (!fullyResolved && freshAdvanced.nonEmpty) {
      val lastIn = freshAdvanced.map(_.queueOrder).max(order)
      val firstOut = fresh.filterNot(d => advanced.contains(
        (d.epoch, d.miner, d.client, d.pieceCid, d.sector))).map(_.queueOrder)
      r.check(firstOut.isEmpty || order.lteq(lastIn, firstOut.min(order)),
        "looked-up deals are not the oldest of the work queue")
    }
    // every eligible deal POSTed exactly once, each traced to its epoch
    val posted = rig.stubs.posted
    val resolvable = freshAdvanced.filter(_.payload.isDefined).map(tuple).toSet
    r.check(posted.values.forall(_ == 1),
      s"${posted.count(_._2 != 1)} deals were POSTed more than once")
    r.check(posted.keySet == resolvable,
      s"POSTed ${posted.size} deals, expected ${resolvable.size} (" +
        s"${(posted.keySet -- resolvable).size} unexpected, " +
        s"${(resolvable -- posted.keySet).size} missing)")
    r.check(rig.epochMismatch == 0, s"${rig.epochMismatch} POSTed deals trace to a wrong epoch")
    joined.unpersist()
    expected.unpersist()
    state.unpersist()
  }

  // --------------------------------------------------------------- catchup

  def catchup(ctx: Ctx): Unit = {
    val fx = ctx.fixture
    val head = CatchupBase + Gen.LookbackEpochs
    val lo = head - Gen.LookbackEpochs
    val hi = head - Gen.FinalityEpochs
    val rig = ctx.setupRepeated(SetupReps) { i =>
      val rig = new DealRig(ctx, ctx.work.resolve(s"catchup-$i"),
        new Gen(fx, CatchupBase, CatchupDensity), ctx.seed, CatchupFaultShare)
      (lo to hi).grouped(CatchupEpochsPerFile).foreach { es =>
        rig.log.append(es.flatMap(e => rig.redelivery.mix(e, rig.gen.linesAt(e))))
      }
      rig.log.setHead(head)
      // warm-up: a cold start over the first file only, then one tick
      val warm = new EventLog(rig.dir.resolve("warm/events"), rig.dir.resolve("warm/head.json"))
      warm.append((lo until lo + CatchupEpochsPerFile).flatMap(rig.gen.linesAt))
      warm.setHead(head)
      rig.use("warm", warm)
      val now = Gen.nowFor(head)
      rig.observe(); rig.resolve(now); rig.submit(now)
      rig
    }(_.close())

    val r = ctx.report
    ctx.trace.spans.clear()
    rig.resetCounters()
    val fresh = (lo to hi).flatMap(rig.gen.dealsAt)
    val now = Gen.nowFor(head)
    val tickS, tickCpu, ingest, resolveRate, submitRate = mutable.ArrayBuffer.empty[Double]
    var iter = 0
    val t0 = System.nanoTime()
    while (iter == 0 || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      rig.use(s"iter-$iter", rig.log)
      rig.stubs.clearLedger()
      rig.epochMismatch = 0
      var tObs, tRes, tSub = 0L
      var posted = 0L
      val ok = Try {
        tObs = nanos(rig.observe())
        (0 until CatchupTicks).foreach { _ =>
          val c0 = Main.cpuNs()
          val res = nanos(rig.resolve(now))
          val sub = nanos(posted += rig.submit(now))
          tickCpu += (Main.cpuNs() - c0) / 1e9
          tickS += (res + sub) / 1e9
          tRes += res
          tSub += sub
        }
      }
      r.op(ok.isSuccess, s"catchup iteration failed: ${ok.failed.map(_.toString).getOrElse("")}")
      val advanced = rig.store.read()
        .filter(col("payload_retrievability_state") =!= St.NotQueried).count()
      ctx.log(f"iteration: observe ${tObs / 1e9}%.2f resolve ${tRes / 1e9}%.2f " +
        f"submit ${tSub / 1e9}%.2f advanced $advanced posted $posted")
      ingest += rig.log.events / (tObs / 1e9)
      resolveRate += advanced / (tRes / 1e9)
      submitRate += posted / (tSub / 1e9)
      iter += 1
      if (System.nanoTime() - t0 < ctx.seconds * 1e9)
        Main.deleteTree(rig.dir.resolve(s"iter-${iter - 1}"))
    }
    val heap = ctx.heapLiveMb()
    r.e2e("tick_cpu_s", Stats.median(tickCpu.toSeq), "s")
    r.info("tick_p50_s", Stats.median(tickS.toSeq))
    r.info("ingest_events_per_s", Stats.median(ingest.toSeq))
    r.info("resolve_deals_per_s", Stats.median(resolveRate.toSeq))
    r.info("submit_deals_per_s", Stats.median(submitRate.toSeq))

    checkStore(ctx, rig, dealsDf(ctx, fresh).withColumn("settled", lit(false)), fresh,
      fullyResolved = false)
    r.e2e("disk_bytes_per_row",
      Some(Main.treeBytes(rig.storePath).toDouble / rig.store.read().count()), "B/row")
    r.e2e("heap_live_mb", Some(heap), "MB")

    if (ctx.trace.enabled) {
      layerMetrics(ctx, rig, _ => true)
      r.layer("ingest.dup_share",
        Some(rig.redelivery.redelivered.toDouble / rig.log.events), "ratio")
      r.layer("codec.decode_yield", Some(fresh.size.toDouble / rig.log.events), "ratio")
      r.layer("sources.event_files", Some(rig.log.files.toDouble), "count")
    }
    rig.close()
  }
}

package graft.state

import java.net.InetSocketAddress
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.{DealObserverApp, TestSpark}
import graft.ingest.DealIngest
import graft.model.{ActiveDeal, PayloadRetrievabilityState => St}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** One tick of the observe and live resolve loops over a fixture store:
  * the Spark jobs each runs, and the resolve tick's isolation of pairs
  * whose lookup fails. */
class DealTickSpec extends DealStoreFixtures {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def fixtureRows(name: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val src = scala.io.Source.fromFile(s"${TestSpark.fixtures}/$name")
    try src.getLines().filter(_.nonEmpty).map(mapper.readTree).toList finally src.close()
  }

  private lazy val peerOf: Map[String, String] = fixtureRows("minerPeerIds.json")
    .map(n => n.get("minerId").asText() -> n.get("peerId").asText()).toMap

  private lazy val payloadOf: Map[(String, String), String] = fixtureRows("payloadCids.json")
    .map(n => (n.get("peerId").asText(), n.get("pieceCid").asText()) -> n.get("payloadCid").asText())
    .toMap

  /** A stub piece indexer over the fixture payload table; a pair that
    * `fails` answers HTTP 500 with a body the client cannot parse. */
  private def withPieceIndexer[T](fails: (String, String) => Boolean)(f: String => T): T = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/sample/", (ex: HttpExchange) => {
      val Array(peer, piece) = ex.getRequestURI.getPath.stripPrefix("/sample/").split("/", 2)
      val (code, body) =
        if (fails(peer, piece)) (500, """{"boom":true}""")
        else payloadOf.get((peer, piece)).fold(
          (200, """{"error":"PROVIDER_OR_PIECE_NOT_FOUND"}"""))(cid => (200, s"""{"samples":["$cid"]}"""))
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}") finally server.stop(0)
  }

  /** The fixture peerId table as the directory's contract leg. */
  private def directory = new PeerIdDirectory(peerOf.get, _ => None)

  private def config(root: String) = DealObserverApp.Config(
    s"$root/events", s"$root/head.json", s"$root/store", s"$root/ckpt")

  /** The 336 deals of the fixture's first ten epochs. */
  private def firstTenEpochs = DealIngest.dedupeAgainst(
    DealIngest.decodeRange(raw, 4622129, 4622138), emptyState)

  test("an AvailableNow observe tick over the fixture store runs at most 10 Spark jobs") {
    val root = newDir("tick-observe")
    val cfg = config(root)
    new java.io.File(cfg.eventLog).mkdirs()
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"${TestSpark.fixtures}/rawActorEvents.json"),
      java.nio.file.Paths.get(s"${cfg.eventLog}/events.json"))
    val store = new DealStateStore(spark, cfg.storeRoot)
    store.write(firstTenEpochs)
    val jobs = jobsDuring(DealObserverApp.observeQuery(spark, cfg,
      () => 4622139 + DealIngest.FinalityEpochs, Trigger.AvailableNow()).awaitTermination())
    assert(store.rowCount() == 360, "the last epoch's 24 deals appended")
    assert(jobs <= 10, s"observe tick ran $jobs Spark jobs")
  }

  test("a live resolve tick over the fixture store runs at most 8 Spark jobs") {
    val cfg = config(newDir("tick-resolve"))
    new DealStateStore(spark, cfg.storeRoot).write(fourDays())
    withPieceIndexer((_, _) => false) { url =>
      val jobs = jobsDuring(DealObserverApp.resolveTickLive(spark, cfg, directory, url, now))
      assert(jobs <= 8, s"resolve tick ran $jobs Spark jobs")
    }
  }

  test("live resolve tick: failing lookups keep their deals queued, the rest advance as golden") {
    val cfg = config(newDir("tick-isolation"))
    val state = firstTenEpochs.cache()
    new DealStateStore(spark, cfg.storeRoot).write(state)
    val at = java.sql.Timestamp.valueOf("2025-01-15 00:00:00")
    val golden = ResolvePayloadCids.resolve(state,
      spark.read.json(s"${TestSpark.fixtures}/minerPeerIds.json"),
      spark.read.json(s"${TestSpark.fixtures}/payloadCids.json"), at, maxDeals = 10000)
    assert(golden.filter(col("payload_cid").isNull).count() == 85)
    // every fourth piece fails on every retry; a deal reaches the
    // indexer only when its miner has a peerId
    val failing: String => Boolean = piece => Math.floorMod(piece.hashCode, 4) == 0
    val peers = peerOf.keySet
    val held = udf((miner: Int, piece: String) => peers(s"f0$miner") && failing(piece))
    withPieceIndexer((_, piece) => failing(piece)) { url =>
      DealObserverApp.resolveTickLive(spark, cfg.copy(maxDeals = 10000), directory, url, at)
    }
    val after = new DealStateStore(spark, cfg.storeRoot).read().cache()
    assert(after.count() == 336)
    val kept = after.filter(held(col("miner_id"), col("piece_cid")))
    assert(kept.count() > 0 && kept.count() < 336)
    assert(kept.filter(col("payload_retrievability_state") === St.NotQueried &&
      col("last_payload_retrieval_attempt").isNull && col("payload_cid").isNull)
      .count() == kept.count())
    def advanced(df: DataFrame) = sorted(df.filter(!held(col("miner_id"), col("piece_cid")))
      .select(ActiveDeal.schema.fieldNames.map(col): _*))
    assert(advanced(after) == advanced(golden))
    after.unpersist()
    state.unpersist()
  }
}

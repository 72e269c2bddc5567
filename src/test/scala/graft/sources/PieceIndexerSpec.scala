package graft.sources

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.{SparkSpec, TestSpark}
import graft.ingest.DealIngest
import graft.model.{ActiveDeal, RawActorEvent, PayloadRetrievabilityState => St}
import graft.state.ResolvePayloadCids
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S4: the piece-indexer HTTP client against a local stub server —
  * hit / clean-miss / flaky-retry / persistent-error paths, plus the
  * full live resolve tick reproducing the golden fixture counts over
  * real HTTP. */
class PieceIndexerSpec extends SparkSpec {

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("content-type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Serves the fixture payloadCids.json map; peer "flaky" fails twice
    * then succeeds; peer "broken" always returns garbage. */
  private def withStubServer[T](f: (String, AtomicInteger) => T): T = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val pairs = scala.io.Source.fromFile(s"${TestSpark.fixtures}/payloadCids.json")
    val known = try pairs.getLines().filter(_.nonEmpty).map { line =>
      val n = mapper.readTree(line)
      (n.get("peerId").asText(), n.get("pieceCid").asText()) -> n.get("payloadCid").asText()
    }.toMap finally pairs.close()

    val requests = new AtomicInteger(0)
    val flakyCalls = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/sample/", (ex: HttpExchange) => {
      requests.incrementAndGet()
      val parts = ex.getRequestURI.getPath.stripPrefix("/sample/").split("/", 2)
      val (peer, piece) = (parts(0), parts(1))
      if (peer == "flaky") {
        if (flakyCalls.incrementAndGet() <= 2) respond(ex, 500, """{"boom":true}""")
        else respond(ex, 200, """{"samples":["bafy-flaky"]}""")
      } else if (peer == "broken") respond(ex, 200, """not json at all""")
      else known.get((peer, piece)) match {
        case Some(cid) => respond(ex, 200, s"""{"samples":["$cid"]}""")
        case None => respond(ex, 200, """{"error":"PROVIDER_OR_PIECE_NOT_FOUND"}""")
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", requests)
    finally server.stop(0)
  }

  test("request: hit, clean miss, retry-then-hit, persistent parse error") {
    withStubServer { (base, _) =>
      val http = java.net.http.HttpClient.newHttpClient()
      // clean miss discriminated from error
      assert(PieceIndexer.request(http, base, "nobody", "baga-none", sleep = _ => ()).isEmpty)
      // flaky endpoint succeeds on the 3rd try (p-retry semantics)
      assert(PieceIndexer.request(http, base, "flaky", "baga-x", sleep = _ => ())
        .contains("bafy-flaky"))
      // persistent garbage throws after the retry budget
      intercept[Exception] {
        PieceIndexer.request(http, base, "broken", "baga-x", retries = 2, sleep = _ => ())
      }
    }
  }

  test("lookup: per-row error capture, null-peer short-circuit, bounded pool") {
    withStubServer { (base, _) =>
      import spark.implicits._
      val peers = spark.read.json(s"${TestSpark.fixtures}/minerPeerIds.json")
        .select("peerId").limit(1).collect()(0).getString(0)
      val pays = spark.read.json(s"${TestSpark.fixtures}/payloadCids.json")
        .filter(col("peerId") === peers).limit(1).collect()(0)
      val candidates = Seq(
        (pays.getAs[String]("peerId"), pays.getAs[String]("pieceCid")), // hit
        (pays.getAs[String]("peerId"), "baga-unknown"),                 // miss
        ("broken", "baga-z"),                                           // error
        (null.asInstanceOf[String], "baga-nopeer")                      // no peer
      ).toDF("peerId", "pieceCid")
      val out = PieceIndexer.lookup(candidates, base, concurrency = 2, retries = 2)
        .collect().map(r => r.getString(1) ->
          (Option(r.getString(2)), Option(r.getString(3)))).toMap
      assert(out(pays.getAs[String]("pieceCid"))._1.contains(pays.getAs[String]("payloadCid")))
      assert(out("baga-unknown") == (None, None)) // clean miss, no error
      assert(out("baga-z")._1.isEmpty && out("baga-z")._2.nonEmpty) // captured error
      assert(out("baga-nopeer") == (None, None))
    }
  }

  test("live resolve tick over HTTP reproduces the golden 85 unresolved") {
    withStubServer { (base, requests) =>
      val raw = spark.read.schema(RawActorEvent.schema)
        .json(s"${TestSpark.fixtures}/rawActorEvents.json")
      val peerIds = spark.read.json(s"${TestSpark.fixtures}/minerPeerIds.json")
      val emptyState = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ActiveDeal.schema)
      val state = DealIngest.dedupeAgainst(
        DealIngest.decodeRange(raw, 4622129, 4622138), emptyState).cache()
      val now = java.sql.Timestamp.valueOf("2025-01-15 00:00:00")
      val resolved = ResolvePayloadCids.resolveLive(
        state, peerIds, base, now, maxDeals = 10000, concurrency = 8).cache()
      assert(resolved.count() == 336)
      assert(resolved.filter(col("payload_cid").isNull).count() == 85)
      assert(resolved.filter(col("payload_retrievability_state") === St.Resolved)
        .count() == 336 - 85)
      // request volume is the DISTINCT pair set, not one per deal
      val distinctPairs = state.count()
      assert(requests.get() > 0 && requests.get() <= distinctPairs)
    }
  }

  test("live resolve spreads the lookups over every core: concurrency 1 still overlaps requests") {
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.createContext("/sample/", (ex: HttpExchange) => {
      peak.accumulateAndGet(inFlight.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(50) // a slow indexer: overlapping requests must overlap here
      inFlight.decrementAndGet()
      respond(ex, 200, """{"error":"PROVIDER_OR_PIECE_NOT_FOUND"}""")
    })
    server.start()
    try {
      val raw = spark.read.schema(RawActorEvent.schema)
        .json(s"${TestSpark.fixtures}/rawActorEvents.json")
      val peerIds = spark.read.json(s"${TestSpark.fixtures}/minerPeerIds.json")
      val emptyState = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ActiveDeal.schema)
      val state = DealIngest.dedupeAgainst(
        DealIngest.decodeRange(raw, 4622129, 4622138), emptyState)
      val now = java.sql.Timestamp.valueOf("2025-01-15 00:00:00")
      val resolved = ResolvePayloadCids.resolveLive(state, peerIds,
        s"http://127.0.0.1:${server.getAddress.getPort}", now, maxDeals = 40, concurrency = 1)
      assert(resolved.filter(col("payload_retrievability_state") === St.Unresolved).count() > 0)
      assert(peak.get() > 1, s"peak in-flight requests ${peak.get()}")
    } finally server.stop(0)
  }
}

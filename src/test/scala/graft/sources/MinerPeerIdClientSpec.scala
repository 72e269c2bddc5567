package graft.sources

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.{SparkSpec, TestSpark}
import graft.codec.EthAbi
import graft.ingest.DealIngest
import graft.model.{ActiveDeal, RawActorEvent, PayloadRetrievabilityState => St}
import graft.state.ResolvePayloadCids
import org.apache.spark.sql.functions._

/** S5 live legs against a local stub node: the raw `eth_call` ABI
  * client (contract hit / zero-struct miss / flaky retry / persistent
  * failure falling through) and the `Filecoin.StateMinerInfo` client,
  * wired through [[graft.state.PeerIdDirectory]], ending in the full
  * golden-85 resolve tick where the peerId dimension comes from LIVE
  * HTTP on BOTH legs (fixture miners split even→contract,
  * odd→StateMinerInfo). */
class MinerPeerIdClientSpec extends SparkSpec {

  private val Contract = "0x14183ad016ddc83d638425d6328009aa390339ce"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("content-type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def rpcResult(resultJson: String): String =
    s"""{"jsonrpc":"2.0","id":1,"result":$resultJson}"""

  /** Fixture map f0Miner → peerId. */
  private def fixtureMiners(): Map[String, String] = {
    val src = scala.io.Source.fromFile(s"${TestSpark.fixtures}/minerPeerIds.json")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val n = mapper.readTree(line)
      n.get("minerId").asText() -> n.get("peerId").asText()
    }.toMap finally src.close()
  }

  /** One stub node serving BOTH rpc methods at `/rpc` plus the piece
    * indexer at `/sample/`. Split dimension: EVEN actor numbers answer
    * on the contract, ODD ones return the zero struct and answer on
    * StateMinerInfo — both live legs are load-bearing for golden-85.
    * Special actors: 77777 = eth_call flaky (one 500, then a hit);
    * 88888 = eth_call always 500, StateMinerInfo knows it;
    * 99999 = unknown everywhere. */
  private def withStubNode[T](f: (String, AtomicInteger, AtomicInteger) => T): T = {
    val known = fixtureMiners()
    val ethCalls = new AtomicInteger(0)
    val minerInfoCalls = new AtomicInteger(0)
    val flakyCalls = new AtomicInteger(0)

    val payloadSrc = scala.io.Source.fromFile(s"${TestSpark.fixtures}/payloadCids.json")
    val payloads = try payloadSrc.getLines().filter(_.nonEmpty).map { line =>
      val n = mapper.readTree(line)
      (n.get("peerId").asText(), n.get("pieceCid").asText()) -> n.get("payloadCid").asText()
    }.toMap finally payloadSrc.close()

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/rpc", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val req = mapper.readTree(body)
      req.get("method").asText() match {
        case "eth_call" =>
          ethCalls.incrementAndGet()
          val callObj = req.get("params").get(0)
          if (callObj.get("to").asText() != Contract)
            respond(ex, 200, s"""{"jsonrpc":"2.0","id":1,"error":{"code":-32000,"message":"unknown contract"}}""")
          else {
            val n = EthAbi.decodeUint64Call(
              callObj.get("data").asText(), MinerPeerIdClient.GetPeerDataSignature)
            val f0 = s"f0$n"
            if (n == 77777L && flakyCalls.incrementAndGet() <= 1)
              respond(ex, 500, """{"boom":true}""")
            else if (n == 77777L)
              respond(ex, 200, rpcResult(
                "\"" + EthAbi.encodePeerDataReturn("12D3KooWFlaky", Array[Byte](7)) + "\""))
            else if (n == 88888L) respond(ex, 500, """{"boom":true}""")
            else known.get(f0).filter(_ => n % 2 == 0) match {
              case Some(pid) => respond(ex, 200, rpcResult(
                "\"" + EthAbi.encodePeerDataReturn(pid, pid.getBytes("UTF-8").take(8)) + "\""))
              case None => respond(ex, 200, rpcResult( // unset mapping → zero struct
                "\"" + EthAbi.encodePeerDataReturn("", Array.emptyByteArray) + "\""))
            }
          }
        case "Filecoin.StateMinerInfo" =>
          minerInfoCalls.incrementAndGet()
          val f0 = req.get("params").get(0).asText()
          val n = f0.drop(2).toLong
          if (n == 88888L)
            respond(ex, 200, rpcResult("""{"PeerId":"12D3KooWRescued"}"""))
          else known.get(f0).filter(_ => n % 2 == 1) match {
            case Some(pid) => respond(ex, 200, rpcResult(s"""{"PeerId":"$pid"}"""))
            case None => respond(ex, 200, rpcResult("""{"PeerId":null}"""))
          }
        case other =>
          respond(ex, 200, s"""{"jsonrpc":"2.0","id":1,"error":{"code":-32601,"message":"no $other"}}""")
      }
    })
    server.createContext("/sample/", (ex: HttpExchange) => {
      val parts = ex.getRequestURI.getPath.stripPrefix("/sample/").split("/", 2)
      payloads.get((parts(0), parts(1))) match {
        case Some(cid) => respond(ex, 200, s"""{"samples":["$cid"]}""")
        case None => respond(ex, 200, """{"error":"PROVIDER_OR_PIECE_NOT_FOUND"}""")
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", ethCalls, minerInfoCalls)
    finally server.stop(0)
  }

  test("contract hit, zero-struct fallback, unknown miss — through the directory") {
    withStubNode { (base, _, _) =>
      val known = fixtureMiners()
      val dir = MinerPeerIdClient.directory(
        Seq(s"$base/rpc"), Contract, authToken = Some("test-token"),
        attempts = 2, sleep = _ => ())
      val even = known.keys.find(m => m.drop(2).toLong % 2 == 0).get
      val odd = known.keys.find(m => m.drop(2).toLong % 2 == 1).get
      assert(dir.lookup(even, 0L) == Some((known(even), "smartContract")))
      assert(dir.lookup(odd, 0L) == Some((known(odd), "stateMinerInfo")))
      assert(dir.lookup("f099999", 0L).isEmpty)
    }
  }

  test("flaky contract endpoint succeeds within the retry budget") {
    withStubNode { (base, ethCalls, _) =>
      val lookup = MinerPeerIdClient.contractLookup(
        Seq(s"$base/rpc"), Contract, attempts = 3, sleep = _ => ())
      assert(lookup("f077777").contains("12D3KooWFlaky"))
      assert(ethCalls.get() == 2, s"expected one 500 + one hit, got ${ethCalls.get()}")
    }
  }

  test("a persistently failing contract leg falls through to StateMinerInfo") {
    withStubNode { (base, _, minerInfoCalls) =>
      val dir = MinerPeerIdClient.directory(
        Seq(s"$base/rpc"), Contract, attempts = 2, sleep = _ => ())
      assert(dir.lookup("f088888", 0L) == Some(("12D3KooWRescued", "stateMinerInfo")))
      assert(minerInfoCalls.get() == 1)
    }
  }

  test("app resolve tick with live transports: store advances to the golden counts") {
    withStubNode { (base, _, _) =>
      val raw = spark.read.schema(RawActorEvent.schema)
        .json(s"${TestSpark.fixtures}/rawActorEvents.json")
      val emptyState = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ActiveDeal.schema)
      val root = java.nio.file.Files.createTempDirectory("applive").toString
      val store = new graft.state.DealStateStore(spark, s"$root/store")
      store.write(DealIngest.dedupeAgainst(
        DealIngest.decodeRange(raw, 4622129, 4622138), emptyState))
      val cfg = graft.DealObserverApp.Config(
        eventLog = s"$root/events", headFile = s"$root/head.json",
        storeRoot = s"$root/store", checkpoint = s"$root/ckpt")
      val dir = MinerPeerIdClient.directory(
        Seq(s"$base/rpc"), Contract, attempts = 3, sleep = _ => ())
      graft.DealObserverApp.resolveTickLive(spark, cfg, dir, base,
        java.sql.Timestamp.valueOf("2025-01-15 00:00:00"))
      val after = store.read().cache()
      assert(after.count() == 336)
      assert(after.filter(col("payload_cid").isNull).count() == 85)
      assert(after.filter(col("payload_retrievability_state") === St.Resolved)
        .count() == 336 - 85)
      after.unpersist()
    }
  }

  test("golden 85: live resolve with the peerId dimension from live HTTP on both legs") {
    withStubNode { (base, ethCalls, minerInfoCalls) =>
      val raw = spark.read.schema(RawActorEvent.schema)
        .json(s"${TestSpark.fixtures}/rawActorEvents.json")
      val emptyState = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ActiveDeal.schema)
      val state = DealIngest.dedupeAgainst(
        DealIngest.decodeRange(raw, 4622129, 4622138), emptyState).cache()
      val miners = state
        .select(concat(lit("f0"), col("miner_id")).as("m"))
        .distinct().collect().map(_.getString(0)).toSeq
      val dir = MinerPeerIdClient.directory(
        Seq(s"$base/rpc"), Contract, attempts = 3, sleep = _ => ())
      val now = java.sql.Timestamp.valueOf("2025-01-15 00:00:00")
      val dim = dir.refreshed(spark, miners, now.getTime).cache()
      // both live legs are load-bearing in the dimension
      val sources = dim.select("peer_source").distinct()
        .collect().map(_.getString(0)).toSet
      assert(sources == Set("smartContract", "stateMinerInfo"), sources.toString)
      assert(ethCalls.get() >= miners.size, "every miner tries the contract first")
      assert(minerInfoCalls.get() > 0, "odd miners fall back to StateMinerInfo")
      val resolved = ResolvePayloadCids.resolveLive(
        state, dim, base, now, maxDeals = 10000, concurrency = 8).cache()
      assert(resolved.count() == 336)
      assert(resolved.filter(col("payload_cid").isNull).count() == 85)
      assert(resolved.filter(col("payload_retrievability_state") === St.Resolved)
        .count() == 336 - 85)
    }
  }
}

package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.codec.EthAbi
import graft.sources.MinerPeerIdClient

/** Request counters of one stub endpoint. All updates happen on the
  * stub's single handler thread; reads come from the benchmark thread. */
final class EndpointStats {
  private val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var calls0, faults0, hits0, misses0 = 0L
  // keys whose LAST answer was an injected fault: a lookup the client
  // gave up on after its retry budget
  private val open = scala.collection.mutable.Set.empty[String]

  def record(key: String, startNs: Long, fault: Boolean, hit: Option[Boolean]): Unit =
    synchronized {
      calls0 += 1
      lat += (System.nanoTime() - startNs) / 1e6
      if (fault) { faults0 += 1; open += key } else open -= key
      hit.foreach(h => if (h) hits0 += 1 else misses0 += 1)
    }

  def reset(): Unit = synchronized {
    lat.clear(); calls0 = 0; faults0 = 0; hits0 = 0; misses0 = 0; open.clear()
  }

  def calls: Long = synchronized(calls0)
  def faults: Long = synchronized(faults0)
  def failed: Long = synchronized(open.size.toLong)
  def hitRatio: Option[Double] =
    synchronized(if (hits0 + misses0 == 0) None else Some(hits0.toDouble / (hits0 + misses0)))
  def p50Ms: Option[Double] = synchronized(Stats.quantile(lat.toSeq, 0.5))
}

/** In-JVM stand-ins for the three external services the deal loop
  * talks to, each on its own single-threaded `HttpServer`:
  *
  *   - piece indexer `GET /sample/{peerId}/{pieceCid}` — a hit iff the
  *     golden `payloadCids.json` table knows the pair;
  *   - chain RPC `POST /rpc` — `eth_call` to the miner→peerID contract
  *     answers for most miners; a seeded quarter answer only on
  *     `Filecoin.StateMinerInfo`, so both legs of the fallback chain run;
  *   - submit `POST /submit` — records every deal it accepts.
  *
  * Faults: for a seeded share of request keys the first of every two
  * requests is a 503, so one retry always absorbs it. */
final class Stubs(fx: Fixture, seed: Long, faultShare: Double) {
  import Stubs._
  val Contract = "0x14183aD016Ddc83D638425D6328009aa390339Ce"

  val pix = new EndpointStats
  val rpc = new EndpointStats
  val submit = new EndpointStats

  // per-key attempt counts; every handler holds this object's lock
  private val attempts = new java.util.HashMap[String, Integer]()
  private def faulty(key: String): Boolean = {
    val n = attempts.merge(key, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
    n % 2 == 1 && unit(key, seed) < faultShare
  }
  private def viaFallback(miner: String): Boolean = unit("fallback" + miner, seed) < 0.25

  // submit-side ledger: accepted deals by their rendered payload tuple
  private val posted0 = scala.collection.mutable.Map.empty[String, Int]
  def posted: Map[String, Int] = synchronized(posted0.toMap)

  private val servers = Seq(
    serve("/sample/") { (ex, t0) =>
      val Array(peer, piece) = ex.getRequestURI.getPath.stripPrefix("/sample/").split("/", 2)
      val key = s"$peer/$piece"
      synchronized {
        if (faulty("pix" + key)) { respond(ex, 503, """{"error":"busy"}"""); pix.record(key, t0, true, None) }
        else fx.payloadOf.get((peer, piece)) match {
          case Some(cid) =>
            respond(ex, 200, s"""{"samples":["$cid"]}"""); pix.record(key, t0, false, Some(true))
          case None =>
            respond(ex, 200, """{"error":"PROVIDER_OR_PIECE_NOT_FOUND"}""")
            pix.record(key, t0, false, Some(false))
        }
      }
    },
    serve("/rpc") { (ex, t0) =>
      val req = Fixture.mapper.readTree(ex.getRequestBody.readAllBytes())
      val method = req.get("method").asText()
      val miner = method match {
        case "eth_call" => "f0" + EthAbi.decodeUint64Call(
          req.get("params").get(0).get("data").asText(), MinerPeerIdClient.GetPeerDataSignature)
        case _ => req.get("params").get(0).asText()
      }
      val key = s"$method/$miner"
      synchronized {
        if (faulty("rpc" + key)) { respond(ex, 503, "busy"); rpc.record(key, t0, true, None) }
        else {
          val peer = fx.peerOf.get(miner)
          val result = method match {
            case "eth_call" =>
              val pid = peer.filterNot(_ => viaFallback(miner)).getOrElse("")
              "\"" + EthAbi.encodePeerDataReturn(pid, pid.getBytes(UTF_8).take(8)) + "\""
            case _ =>
              peer.map(p => s"""{"PeerId":"$p"}""").getOrElse("""{"PeerId":null}""")
          }
          respond(ex, 200, s"""{"jsonrpc":"2.0","id":1,"result":$result}""")
          rpc.record(key, t0, false, Some(peer.isDefined))
        }
      }
    },
    serve("/submit") { (ex, t0) =>
      val body = Fixture.mapper.readTree(ex.getRequestBody.readAllBytes())
      val key = if (body.size() == 0) "empty" else dealTuple(body.get(0))
      synchronized {
        if (faulty("submit" + key)) {
          respond(ex, 503, "busy"); submit.record(key, t0, true, None)
        } else {
          body.forEach { d =>
            val t = dealTuple(d)
            posted0(t) = posted0.getOrElse(t, 0) + 1
          }
          respond(ex, 200, s"""{"ingested":${body.size()},"skipped":0}""")
          submit.record(key, t0, false, None)
        }
      }
    })

  private val ports = servers.map(_.getAddress.getPort)
  val pieceIndexerUrl = s"http://127.0.0.1:${ports(0)}"
  val rpcUrl = s"http://127.0.0.1:${ports(1)}/rpc"
  val submitUrl = s"http://127.0.0.1:${ports(2)}/submit"

  def resetStats(): Unit = Seq(pix, rpc, submit).foreach(_.reset())
  def clearLedger(): Unit = synchronized(posted0.clear())

  def close(): Unit = servers.foreach { s =>
    s.stop(0)
    s.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdownNow()
  }
}

object Stubs {
  /** Deterministic [0, 1) draw for a key under the workload seed. */
  def unit(key: String, seed: Long): Double = {
    val h = scala.util.hashing.MurmurHash3.stringHash(key, seed.toInt ^ (seed >>> 32).toInt)
    (h.toLong & 0xffffffffL) / 4294967296.0
  }

  /** The submit payload's identity: every field except `expiresAt`. */
  def dealTuple(d: com.fasterxml.jackson.databind.JsonNode): String =
    Seq("minerId", "clientId", "pieceCid", "pieceSize", "payloadCid")
      .map(f => d.get(f).asText()).mkString("|")

  def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("content-type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def serve(path: String)(h: (HttpExchange, Long) => Unit): HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, s"stub$path"); t.setDaemon(true); t
    })
    s.createContext(path, (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      try h(ex, t0)
      catch { case scala.util.control.NonFatal(e) => respond(ex, 500, s"stub error: $e") }
    })
    s.start()
    s
  }
}

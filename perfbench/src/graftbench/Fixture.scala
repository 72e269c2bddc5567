package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** One golden-fixture claim event, decoded here independently of the
  * engine's codec so the expected deal set does not come from the code
  * under test. */
final case class FixtureEvent(
    idx: Int, node: ObjectNode, height: Int, provider: Long, pieceCid: String,
    pieceSize: Long, termStart: Long, termMin: Long, termMax: Long, sector: Long,
    payload: Option[String])

/** The golden fixture (360 claim events over 11 mainnet epochs) plus the
  * two lookup tables the stubs answer from. */
final class Fixture(
    val events: IndexedSeq[FixtureEvent],
    val peerOf: Map[String, String],
    val payloadOf: Map[(String, String), String]) {
  val firstHeight: Int = events.map(_.height).min
  /** Consecutive epochs one replica of the fixture spans. */
  val span: Int = events.map(_.height).max - firstHeight + 1
  val byOffset: Map[Int, IndexedSeq[FixtureEvent]] = events.groupBy(_.height - firstHeight)
}

object Fixture {
  val mapper = new ObjectMapper()
  val Dir = "src/test/resources/fixtures"

  private def lines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.trim.nonEmpty).toVector finally src.close()
  }

  def load(root: String): Fixture = {
    val peerOf = lines(s"$root/$Dir/minerPeerIds.json").map { l =>
      val n = mapper.readTree(l); n.get("minerId").asText() -> n.get("peerId").asText()
    }.toMap
    val payloadOf = lines(s"$root/$Dir/payloadCids.json").map { l =>
      val n = mapper.readTree(l)
      (n.get("peerId").asText(), n.get("pieceCid").asText()) -> n.get("payloadCid").asText()
    }.toMap
    val events = lines(s"$root/$Dir/rawActorEvents.json").zipWithIndex.map { case (l, i) =>
      val node = mapper.readTree(l).asInstanceOf[ObjectNode]
      val f = scala.collection.mutable.Map.empty[String, Array[Byte]]
      node.get("entries").forEach { e =>
        f(e.get("Key").asText()) = java.util.Base64.getDecoder.decode(e.get("Value").asText())
      }
      val piece = Cbor.cid(f("piece-cid"))
      val provider = Cbor.uint(f("provider"))
      FixtureEvent(i, node, node.get("height").asInt, provider, piece, Cbor.uint(f("piece-size")), Cbor.uint(f("term-start")),
        Cbor.uint(f("term-min")), Cbor.uint(f("term-max")), Cbor.uint(f("sector")),
        peerOf.get(s"f0$provider").flatMap(p => payloadOf.get((p, piece))))
    }.toIndexedSeq
    new Fixture(events, peerOf, payloadOf)
  }
}

/** The few DAG-CBOR shapes a claim event uses: unsigned ints and
  * tag-42 CIDs. */
object Cbor {
  def uint(b: Array[Byte]): Long = {
    val h = b(0) & 0xff
    require(h >> 5 == 0, s"not a CBOR uint: header $h")
    def be(n: Int): Long = (1 to n).foldLeft(0L)((acc, i) => (acc << 8) | (b(i) & 0xff))
    h & 0x1f match {
      case ai if ai < 24 => ai.toLong
      case 24 => be(1)
      case 25 => be(2)
      case 26 => be(4)
      case 27 => be(8)
      case ai => throw new IllegalArgumentException(s"bad uint length $ai")
    }
  }

  def encodeUint(v: Long): Array[Byte] = {
    require(v >= 0)
    def be(h: Int, n: Int): Array[Byte] =
      (h.toByte +: (n - 1 to 0 by -1).map(i => ((v >>> (8 * i)) & 0xff).toByte)).toArray
    if (v < 24) Array(v.toByte)
    else if (v < 0x100) be(0x18, 1)
    else if (v < 0x10000) be(0x19, 2)
    else if (v < 0x100000000L) be(0x1a, 4)
    else be(0x1b, 8)
  }

  /** Tag 42 around a byte string holding 0x00 + CID bytes → base32 CID. */
  def cid(b: Array[Byte]): String = {
    require((b(0) & 0xff) == 0xd8 && (b(1) & 0xff) == 42, "not a tag-42 CID")
    val h = b(2) & 0xff
    require(h >> 5 == 2, "tag 42 must wrap a byte string")
    val (len, off) = h & 0x1f match {
      case ai if ai < 24 => (ai, 3)
      case 24 => (b(3) & 0xff, 4)
      case 25 => (((b(3) & 0xff) << 8) | (b(4) & 0xff), 5)
      case ai => throw new IllegalArgumentException(s"CID too long ($ai)")
    }
    val bytes = b.slice(off, off + len)
    require(bytes(0) == 0, "CID bytes must carry the identity multibase prefix")
    "b" + base32(bytes.drop(1))
  }

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz234567"

  def base32(bytes: Array[Byte]): String = {
    val sb = new StringBuilder
    var buf = 0
    var bits = 0
    bytes.foreach { x =>
      buf = (buf << 8) | (x & 0xff)
      bits += 8
      while (bits >= 5) { sb += Alphabet((buf >> (bits - 5)) & 31); bits -= 5 }
    }
    if (bits > 0) sb += Alphabet((buf << (5 - bits)) & 31)
    sb.result()
  }
}

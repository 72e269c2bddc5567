package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** One generated deal: the natural key the store must hold, plus the
  * payload CID the piece-indexer stub will answer for it (None = miss). */
final case class Deal(
    epoch: Int, miner: Long, client: Long, pieceCid: String, pieceSize: Long,
    termStart: Long, termMin: Long, termMax: Long, sector: Long,
    payload: Option[String]) {
  /** The workQueue order (epoch, miner, piece, sector); ties are legal. */
  def queueOrder: (Int, Long, String, Long) = (epoch, miner, pieceCid, sector)
}

/** Seeded replication of the golden fixture onto a synthetic chain.
  *
  * Synthetic epoch `e` carries the fixture events of fixture epoch
  * `(e - base) mod span`, `density` copies each. Every copy re-encodes
  * one CBOR field, `client` := `e * ClientStride + copy`, so natural keys
  * stay distinct at any density and every POSTed deal (whose payload
  * carries `clientId`) traces back to its epoch. */
final class Gen(val fx: Fixture, val base: Int, val density: Int) {
  import Gen._
  require(density >= 1 && density <= ClientStride)

  // one JSON template per fixture event with the two re-encoded values
  // as placeholders, so emitting an event is two string replaces
  private val templates: IndexedSeq[String] = fx.events.map { fe =>
    val n = fe.node.deepCopy()
    n.put("height", HeightMark)
    n.get("entries").forEach { e =>
      if (e.get("Key").asText() == "client")
        e.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("Value", ClientMark)
    }
    Fixture.mapper.writeValueAsString(n)
  }

  def eventsAt(epoch: Int): IndexedSeq[(FixtureEvent, Int)] =
    fx.byOffset.getOrElse(Math.floorMod(epoch - base, fx.span), IndexedSeq.empty)
      .flatMap(fe => (0 until density).map(c => (fe, c)))

  def deal(fe: FixtureEvent, epoch: Int, copy: Int): Deal =
    Deal(epoch, fe.provider, clientOf(epoch, copy), fe.pieceCid, fe.pieceSize,
      fe.termStart, fe.termMin, fe.termMax, fe.sector, fe.payload)

  def dealsAt(epoch: Int): IndexedSeq[Deal] =
    eventsAt(epoch).map { case (fe, c) => deal(fe, epoch, c) }

  def json(fe: FixtureEvent, epoch: Int, copy: Int): String = {
    val client = java.util.Base64.getEncoder.encodeToString(
      Cbor.encodeUint(clientOf(epoch, copy)))
    templates(fe.idx).replace(s""""height":$HeightMark""", s""""height":$epoch""")
      .replace(s""""$ClientMark"""", s""""$client"""")
  }

  /** Raw event lines of `epoch` (re-deliveries are the caller's). */
  def linesAt(epoch: Int): IndexedSeq[String] =
    eventsAt(epoch).map { case (fe, c) => json(fe, epoch, c) }
}

object Gen {
  val ClientStride = 8
  val FinalityEpochs = 940
  val LookbackEpochs = 1999
  private val HeightMark = -777000777
  private val ClientMark = "@@CLIENT@@"

  def clientOf(epoch: Int, copy: Int): Long = epoch.toLong * ClientStride + copy
  def epochOfClient(client: Long): Int = (client / ClientStride).toInt

  /** Filecoin epoch → unix seconds (genesis 1598306400, 30 s blocks). */
  def epochSeconds(epoch: Int): Long = 1598306400L + epoch.toLong * 30L

  /** The clock the resolve and submit loops see: the synthetic chain
    * head plus two days, so every stored deal is past the submit delay. */
  def nowFor(head: Int): java.sql.Timestamp =
    new java.sql.Timestamp((epochSeconds(head) + 2 * 86400L + 60L) * 1000L)
}

/** An epoch-keyed event log plus the head file, written the way a
  * transport would: each file lands under a hidden name and is renamed
  * into place, and the head only moves after the files it finalizes. */
final class EventLog(val dir: Path, val headFile: Path) {
  Files.createDirectories(dir)
  private var seq = 0
  var files = 0
  var events = 0L

  def append(lines: Seq[String]): Unit = if (lines.nonEmpty) {
    val tmp = dir.resolve(s"_tmp-$seq")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(f"ev-$seq%08d.json"), StandardCopyOption.ATOMIC_MOVE)
    seq += 1
    files += 1
    events += lines.size
  }

  def setHead(height: Int): Unit = {
    val tmp = headFile.resolveSibling(headFile.getFileName.toString + ".tmp")
    Files.write(tmp, s"""{"Height":$height}""".getBytes(UTF_8))
    Files.move(tmp, headFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The head reader handed to the engine (the same JSON shape
    * `DealObserverApp.main` reads). */
  def readHead(): Int =
    Fixture.mapper.readTree(Files.readAllBytes(headFile)).get("Height").asInt
}

/** Seeded re-delivery: a share of events is written a second time into
  * the file of a later epoch (1–3 epochs on), as a flaky RPC node would
  * hand them out again. */
final class Redelivery(share: Double, seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val pending = scala.collection.mutable.Map.empty[Int, Vector[String]]
  var redelivered = 0L

  /** Lines to write for `epoch`: its own events plus those re-delivered
    * into it; schedules this epoch's own re-deliveries. */
  def mix(epoch: Int, own: IndexedSeq[String]): Seq[String] = {
    own.foreach { l =>
      if (rnd.nextDouble() < share) {
        val at = epoch + 1 + rnd.nextInt(3)
        pending(at) = pending.getOrElse(at, Vector.empty) :+ l
      }
    }
    val again = pending.remove(epoch).getOrElse(Vector.empty)
    redelivered += again.size
    own ++ again
  }
}

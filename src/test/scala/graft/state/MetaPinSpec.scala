package graft.state

import graft.model.{ActiveDeal, PayloadRetrievabilityState => St}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The `_META` a write derives from the counters it observes on its own
  * rows is byte-identical to the one a grouped aggregate over the
  * version's written files gives, on a full write, a delta, a
  * tombstone-only delta with nothing changed, and an empty snapshot. Each
  * write must also return: an observed metric that never arrived would
  * block it for good. */
class MetaPinSpec extends DealStoreFixtures {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def metaBytes(dir: String, v: Long): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, s"v=$v", "_META"))

  private def maxEpochOf(dir: String, v: Long): Option[Int] = {
    val n = mapper.readTree(metaBytes(dir, v)).get("maxEpoch")
    if (n.isNull) None else Some(n.asInt)
  }

  /** The `_META` of version `v` as ONE grouped aggregate over its
    * written files computes it (no rescan span in these stores). */
  private def aggregatedMeta(dir: String, v: Long, parentMax: Option[Int]): Array[Byte] = {
    val vdir = s"$dir/v=$v"
    val st = col("payload_retrievability_state")
    val openSubmit = col("payload_cid").isNotNull && col("submitted_at").isNull
    val groups: Array[(Int, String, Long, Int, Long, Long, Option[Int])] =
      if (!new java.io.File(vdir).list().exists(_.startsWith("epoch_day="))) Array.empty
      else spark.read.schema(ActiveDeal.schema.add("epoch_day", IntegerType)).parquet(vdir)
        .groupBy(col("epoch_day"), st)
        .agg(count(lit(1)), max("activated_at_epoch"),
          count(when(col("payload_cid").isNull && st.isin(St.NotQueried, St.Unresolved), 1)),
          count(when(openSubmit, 1)),
          max(when(openSubmit, col("term_start_epoch") + col("term_min"))))
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getInt(3), r.getLong(4),
          r.getLong(5), if (r.isNullAt(6)) None else Some(r.getInt(6))))
    val ownMax = if (groups.isEmpty) None else Some(groups.map(_._4).max)
    val json = mapper.createObjectNode()
    (ownMax.toSeq ++ parentMax.toSeq).reduceOption(_ max _)
      .fold(json.putNull("maxEpoch"))(json.put("maxEpoch", _))
    json.putNull("rescanFloor")
    json.putNull("rescanCeil")
    val dayRows = json.putObject("dayRows")
    val dayStates = json.putObject("dayStates")
    val openResolve = json.putObject("openResolve")
    val openSubmitRows = json.putObject("openSubmit")
    val submitUntil = json.putObject("submitUntil")
    groups.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (d, gs) =>
      val k = d.toString
      dayRows.put(k, gs.map(_._3).sum)
      val byState = dayStates.putObject(k)
      gs.sortBy(_._2).foreach(g => byState.put(g._2, g._3))
      openResolve.put(k, gs.map(_._5).sum)
      openSubmitRows.put(k, gs.map(_._6).sum)
      gs.flatMap(_._7).maxOption.foreach(u => submitUntil.put(k, u))
    }
    mapper.writeValueAsBytes(json)
  }

  /** `write` returns within two minutes. */
  private def promptly(write: => Long): Long =
    Await.result(Future(write)(ExecutionContext.global), 2.minutes)

  private def assertPinned(dir: String, v: Long, parentMax: Option[Int]): Unit = {
    val got = new String(metaBytes(dir, v), "UTF-8")
    val want = new String(aggregatedMeta(dir, v, parentMax), "UTF-8")
    assert(got == want, s"v=$v _META")
  }

  test("_META of a full write, a delta and a tombstone-only delta equals the grouped aggregate's") {
    val dir = newDir("meta-pin")
    val store = new DealStateStore(spark, dir)
    val v0 = promptly(store.write(fourDays()))
    assertPinned(dir, v0, parentMax = None)
    assert(store.days().keySet == (0 to 3).map(dayOf).toSet)

    // a delta that resolves the never-queried day and re-creates nothing else
    val v1 = promptly(store.writeDelta(resolvedAs(store.read(Set(dayOf(2))), "bafyDelta", None)))
    assertPinned(dir, v1, parentMax = maxEpochOf(dir, v0))
    assert(store.days()(dayOf(2)).exists(s => s.openResolve == 0 && s.openSubmit == 360))

    // nothing changed, one day deleted by reference
    val v2 = promptly(store.writeDelta(emptyState, tombstoneDays = Set(dayOf(3))))
    assertPinned(dir, v2, parentMax = maxEpochOf(dir, v1))
    assert(store.days().keySet == (0 to 2).map(dayOf).toSet)
    assert(store.maxEpoch() == maxEpochOf(dir, v1))
  }

  test("_META of an empty snapshot equals the grouped aggregate's") {
    val dir = newDir("meta-pin-empty")
    val store = new DealStateStore(spark, dir)
    val v0 = promptly(store.write(emptyState))
    assertPinned(dir, v0, parentMax = None)
    assert(store.maxEpoch().isEmpty && store.days().isEmpty && store.rowCount() == 0)
  }
}

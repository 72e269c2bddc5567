package graft.state

import graft.{DealObserverApp, TestSpark}
import graft.model.{PayloadRetrievabilityState => St}
import graft.streaming.MetricsSink
import org.apache.spark.sql.functions._

/** The delta write's sweep: after the flip to N, the chain keeps only
  * the day files that view N or view N−1 resolves. */
class DeltaSweepSpec extends DealStoreFixtures {

  /** Part files of each epoch-day, over every version under `root`. */
  def dayParts(root: String): Map[Int, Seq[java.io.File]] =
    new java.io.File(root).listFiles().filter(_.getName.startsWith("v=")).toSeq
      .flatMap(_.listFiles().filter(_.getName.startsWith("epoch_day=")))
      .flatMap(d => d.listFiles().filter(_.getName.startsWith("part-")).map(d -> _))
      .groupMap(_._1.getName.stripPrefix("epoch_day=").toInt)(_._2)

  test("ten deltas of one day leave at most two part files of it; footprint counts them") {
    val dir = newDir("sweep-hot-day")
    val store = new DealStateStore(spark, dir)
    store.write(fourDays())
    val before = sorted(store.read())
    (1 to 10).foreach(_ => store.writeDelta(store.read(Set(dayOf(2)))))
    val parts = dayParts(dir)
    assert(parts(dayOf(2)).size == 2, "the head's copy and its parent's")
    assert(Seq(0, 1, 3).forall(k => parts(dayOf(k)).size == 1))
    assert(sorted(store.read()) == before)
    val all = parts.values.flatten.toSeq
    assert(store.footprint() ==
      DealStateStore.Footprint(chainDepth = 11, dayFiles = 5, dayBytes = all.map(_.length).sum))
    assert(store.chainDepth() == 11)
  }

  test("a read taken at N−1 still collects, with the same rows, after the write of N") {
    val store = new DealStateStore(spark, newDir("sweep-parent-view"))
    store.write(fourDays())
    store.writeDelta(store.read(Set(dayOf(2))))
    val atParent = store.read() // day 2 resolves to the version just written
    val rows = sorted(atParent)
    store.writeDelta(store.read(Set(dayOf(2)))
      .withColumn("payload_retrievability_state", lit(St.Unresolved)))
    assert(sorted(atParent) == rows)
    assert(store.read().filter(col("payload_retrievability_state") === St.Unresolved)
      .count() == 360)
  }

  test("the sweep covers the whole chain: a day dir a crash left behind goes with the next write") {
    val dir = newDir("sweep-crash")
    val store = new DealStateStore(spark, dir)
    store.write(fourDays())
    (1 to 2).foreach(_ => store.writeDelta(store.read(Set(dayOf(2)))))
    val stale = new java.io.File(s"$dir/v=0/epoch_day=${dayOf(2)}")
    assert(!stale.exists(), "swept by the second delta")
    // a crash between the flip and the sweep leaves the superseded copy
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/v=1/epoch_day=${dayOf(2)}"), stale)
    val before = sorted(store.read())
    store.writeDelta(store.read(Set(dayOf(0)))) // a write that does not touch day 2
    assert(!stale.exists())
    assert(dayParts(dir)(dayOf(2)).size == 1, "neither view reads v=1's copy any more")
    assert(sorted(store.read()) == before)
  }

  test("a tombstoned day's files stay while the parent view reads them, then go") {
    val dir = newDir("sweep-tombstone")
    val store = new DealStateStore(spark, dir)
    store.write(fourDays())
    val atParent = store.read()
    val rows = sorted(atParent)
    store.writeDelta(emptyState, tombstoneDays = Set(dayOf(2)))
    assert(sorted(atParent) == rows)
    assert(dayParts(dir).contains(dayOf(2)))
    assertPrunedMatchesFull(store)
    store.writeDelta(store.read(Set(dayOf(1))))
    assert(!dayParts(dir).contains(dayOf(2)))
    assert(store.rowCount() == 3 * 360)
    assertPrunedMatchesFull(store)
    // a later delta re-creates the day; the full write keeps its GC
    store.writeDelta(dayOfDeals(2))
    store.compact()
    assert(store.rowCount() == 4 * 360)
    assertPrunedMatchesFull(store)
    // one delta after the compaction drops the chain it replaced
    store.writeDelta(store.read(Set(dayOf(1))))
    val onDisk = dayParts(dir).values.flatten.toSeq
    assert(store.footprint() == DealStateStore.Footprint(2, onDisk.size, onDisk.map(_.length).sum))
    assert(onDisk.size == 5, "the live days plus one parent copy")
  }

  test("the resolve tick records the footprint in its one metrics write, with no extra Spark job") {
    val root = newDir("sweep-gauges")
    val cfg = DealObserverApp.Config(s"$root/events", s"$root/head.json",
      s"$root/store", s"$root/ckpt")
    val store = new DealStateStore(spark, cfg.storeRoot)
    store.write(fourDays())
    val peer = spark.read.json(s"${TestSpark.fixtures}/minerPeerIds.json").cache()
    val pay = spark.read.json(s"${TestSpark.fixtures}/payloadCids.json").cache()
    peer.count(); pay.count()
    // the queue, the peer table, the lookup (2), the update broadcast
    // and the write (2); its _META counters ride the write, and the
    // metrics point is written on the driver
    assert(jobsDuring(DealObserverApp.resolveTick(spark, cfg, peer, pay, now)) <= 7)
    val fp = store.footprint()
    assert(fp.chainDepth == 2 && fp.dayFiles == 6)
    val points = new MetricsSink(spark, cfg.metricsRoot).table()
      .filter(col("loop") === "resolve").select("metric", "value").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(points("store_chain_depth") == 2)
    assert(points("store_day_files") == fp.dayFiles)
    assert(points("store_day_bytes") == fp.dayBytes)
    assert(new java.io.File(cfg.metricsRoot).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet")) == 1, "one metrics write")
  }
}

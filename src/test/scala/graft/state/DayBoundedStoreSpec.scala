package graft.state

import graft.DealObserverApp
import graft.model.{PayloadRetrievabilityState => St}
import org.apache.spark.sql.functions._

/** The day-bounded store paths: `_META` day counters, day-selecting
  * reads, and one file per written day. */
class DayBoundedStoreSpec extends DealStoreFixtures {

  test("_META day counters: per-state rows and the open-resolve / open-submit supersets") {
    val store = new DealStateStore(spark, newDir("day-counters"))
    store.write(fourDays())
    val days = store.days()
    assert(days.keySet == (0 to 3).map(dayOf).toSet)
    val stats = days.map { case (d, s) => d -> s.get }
    assert(stats(dayOf(0)) == DealStateStore.DayStats(360, Map(St.Resolved -> 360L), 0, 0))
    assert(stats(dayOf(1)) == DealStateStore.DayStats(360, Map(St.Resolved -> 360L), 0, 360))
    assert(stats(dayOf(2)) == DealStateStore.DayStats(360, Map(St.NotQueried -> 360L), 360, 0))
    val mixed = stats(dayOf(3))
    assert(mixed.openResolve > 0 && mixed.openSubmit > 0 &&
      mixed.openResolve + mixed.openSubmit == 360)
    assert(store.openDays(_.openResolve) == Set(dayOf(2), dayOf(3)))
    assert(store.openDays(_.openSubmit) == Set(dayOf(1), dayOf(3)))
    // the counters answer the telemetry without a Spark job
    assert(jobsDuring { store.stateCounts(); store.rowCount() } == 0)
    assertPrunedMatchesFull(store)
  }

  test("write and writeDelta leave exactly one part file per epoch-day") {
    val dir = newDir("one-file-per-day")
    val store = new DealStateStore(spark, dir)
    val v0 = store.write(fourDays())
    assert(partFiles(s"$dir/v=$v0") == (0 to 3).map(dayOf(_) -> 1).toMap)
    val v1 = store.writeDelta(store.read(Set(dayOf(1), dayOf(2))).repartition(4))
    assert(partFiles(s"$dir/v=$v1") == Map(dayOf(1) -> 1, dayOf(2) -> 1))
    assert(store.rowCount() == 4 * 360)
  }

  test("a submit tick's version holds only the days of the deals it POSTed") {
    val root = newDir("submit-days")
    val store = new DealStateStore(spark, s"$root/store")
    // plus a day activated within 2 days of `now`: half submitted
    // earlier, half open-submit but not yet eligible — it is read, but
    // nothing in it is POSTed, so it must not be rewritten
    val (done, waiting) = halves(dayOfDeals(150))
    store.write(fourDays()
      .unionByName(resolvedAs(done, "bafyYoung", Some(earlier)))
      .unionByName(resolvedAs(waiting, "bafyYoung", None)))
    val before = sorted(store.read())
    val cfg = DealObserverApp.Config(s"$root/events", s"$root/head.json",
      s"$root/store", s"$root/ckpt")
    val posted = scala.collection.mutable.ArrayBuffer.empty[Int]
    val res = DealObserverApp.submitTick(spark, cfg,
      rows => { posted ++= rows.map(_.getAs[Int]("activated_at_epoch")); (rows.length.toLong, 0L) },
      now)
    val postedDays = posted.map(DealStateStore.dayOf).toSet
    assert(postedDays == Set(dayOf(1), dayOf(3)))
    assert(res.postedDays == postedDays)
    val v = store.latestVersion.get
    // the settled day (ever-submitted deals) and the never-queried day
    // are carried forward by reference, not rewritten
    assert(partFiles(s"$root/store/v=$v").keySet == postedDays)
    val after = store.read()
    assert(after.count() == 5 * 360)
    assert(after.filter(col("payload_cid").isNotNull && col("submitted_at").isNull)
      .count() == waiting.count())
    assert(sorted(after.filter(!DealStateStore.dayCol.isin(postedDays.toSeq: _*))) ==
      before.filter(r => !postedDays.contains(DealStateStore.dayOf(r.getInt(0)))))
    // only the young day stays open; the next tick POSTs and writes nothing
    assert(store.openDays(_.openSubmit) == Set(dayOf(150)))
    assert(DealObserverApp.submitTick(spark, cfg, _ => fail("nothing is eligible"), now)
      .submitted == 0)
    assert(store.latestVersion.contains(v))
  }

  test("submit never reads a day whose open-submit deals all expired unsubmitted") {
    val root = newDir("expired-submit")
    val store = new DealStateStore(spark, s"$root/store")
    // day 5: payload known, never submitted, every term ended before `now`
    store.write(fourDays()
      .unionByName(resolvedAs(dayOfDeals(5), "bafyExpired", None).withColumn("term_min", lit(0))))
    assert(store.openDays(_.openSubmit) == Set(dayOf(1), dayOf(3), dayOf(5)))
    assert(store.submitDays(now) == Set(dayOf(1), dayOf(3)))
    assert(store.submitDays(java.sql.Timestamp.valueOf("2024-06-01 00:00:00")).contains(dayOf(5)),
      "open while a term is still running")
    assertPrunedMatchesFull(store)
    // a submit tick that read the expired day would now fail on its files
    val v = store.latestVersion.get
    new java.io.File(s"$root/store/v=$v/epoch_day=${dayOf(5)}").listFiles().foreach { f =>
      if (f.getName.endsWith(".crc")) f.delete()
      else java.nio.file.Files.write(f.toPath, "not parquet".getBytes("UTF-8"))
    }
    val cfg = DealObserverApp.Config(s"$root/events", s"$root/head.json",
      s"$root/store", s"$root/ckpt")
    val res = DealObserverApp.submitTick(spark, cfg, rows => (rows.length.toLong, 0L), now)
    assert(res.postedDays == Set(dayOf(1), dayOf(3)))
  }

  test("pruned reads match the full read: counter-less _META, tombstoned day, compacted store") {
    val dir = newDir("pruned-equivalence")
    val store = new DealStateStore(spark, dir)
    store.write(fourDays())
    // a delta re-opens the settled day for resolve: one sector's deals
    // go back to NOT_QUERIED
    val settled = store.read(Set(dayOf(0)))
    val reset = col("sector_id") === settled.agg(min("sector_id")).first().getLong(0)
    val reopened = settled
      .withColumn("payload_cid", when(reset, lit(null)).otherwise(col("payload_cid")))
      .withColumn("payload_retrievability_state",
        when(reset, lit(St.NotQueried)).otherwise(col("payload_retrievability_state")))
    store.writeDelta(reopened)
    assertPrunedMatchesFull(store)

    // the delta's _META in the older layout: its day counts as open
    val v = store.latestVersion.get
    val metaPath = java.nio.file.Paths.get(s"$dir/v=$v/_META")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(java.nio.file.Files.readAllBytes(metaPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    meta.remove(java.util.Arrays.asList("dayStates", "openResolve", "openSubmit"))
    java.nio.file.Files.write(metaPath, mapper.writeValueAsBytes(meta))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/v=$v/._META.crc"))
    assert(store.days()(dayOf(0)).isEmpty)
    assert(store.days()(dayOf(1)).isDefined)
    assert(store.openDays(_.openResolve) == Set(dayOf(0), dayOf(2), dayOf(3)))
    assert(store.openDays(_.openSubmit) == Set(dayOf(0), dayOf(1), dayOf(3)))
    assertPrunedMatchesFull(store)

    // a tombstoned open day stops resolving, counters included
    store.writeDelta(emptyState, tombstoneDays = Set(dayOf(2)))
    assert(!store.days().contains(dayOf(2)))
    assert(!store.openDays(_.openResolve).contains(dayOf(2)))
    assertPrunedMatchesFull(store)

    // compaction rewrites every day with full counters
    store.compact()
    assert(store.days().values.forall(_.isDefined))
    assert(store.openDays(_.openResolve) == Set(dayOf(0), dayOf(3)))
    assertPrunedMatchesFull(store)
  }
}

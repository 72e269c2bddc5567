package graft.state

import graft.functions.EpochFunctions
import graft.model.{ActiveDeal, PayloadRetrievabilityState => St}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.IntegerType

/** Versioned-snapshot state table.
  *
  * The reference keeps its state in a single mutable Postgres table
  * (db/migrations/002.do.active-deals.sql) and mutates it with
  * INSERT ... ON CONFLICT / UPDATE. Spark's storage model is append-only
  * files, so updates become snapshot rewrites: each write lands in
  * `path/v=N+1/` and a `_LATEST` pointer file flips atomically after the
  * write succeeds (the rename-free analog of Delta's transaction log,
  * minus concurrency — the reference is a singleton process too,
  * backend/bin/deal-observer-backend.js:165-173).
  *
  * Scale note: snapshots are partitioned by `epoch_day`
  * (activated_at_epoch / 2880 — one Filecoin day) so (a) the ingest
  * anti-join prunes to just the touched days, and (b) point lookups by
  * epoch range skip files. At 100 TB this is the difference between
  * rewriting a few partitions and rewriting the world; writers use
  * dynamic partition overwrite semantics. Every write repartitions by
  * `epoch_day` first, so each changed day lands as exactly one file.
  *
  * `_META` (one per version) carries, besides the table watermark and the
  * rescan span, per-day counters of the days that version wrote:
  *   - `dayRows`: row count;
  *   - `dayStates`: row count per `payload_retrievability_state`;
  *   - `openResolve`: rows with no payload CID in state NOT_QUERIED or
  *     UNRESOLVED — a superset of the resolve work queue (no time gate);
  *   - `openSubmit`: rows with a payload CID and no `submitted_at` — a
  *     superset of the submit-eligible set (no time gates);
  *   - `submitUntil`: the latest `term_start_epoch + term_min` over those
  *     rows — once `now` passes it, none of them is ever eligible again.
  * The loops use them to read only the days they can touch
  * (`read(keep)`), and telemetry sums them instead of scanning. A day
  * whose `_META` lacks the counters (older layouts) counts as open.
  *
  * Retention: keep what the new latest and the previous latest can read.
  * Both writers run one GC step after the pointer flip to N: it deletes
  * every `v=*` directory outside the chains of view N and view N−1 (the
  * chain a compaction replaced goes with the next write), then each
  * `epoch_day=*` directory of those chains that neither view resolves
  * (days superseded by a newer writer or hidden by a newer
  * `_TOMBSTONES`). Version directories and their control files on the
  * two chains stay. So a read taken at N−1 still collects after the
  * write of N, and the day files on disk are bounded by the live days
  * plus one parent copy of each day the last write touched, whatever
  * the chain depth. The step covers both whole chains, so garbage a
  * crash left between flip and GC goes with the next write.
  */
final class DealStateStore(spark: SparkSession, root: String) {
  import DealStateStore._
  import org.apache.spark.sql.functions._

  private val rootPath = new Path(root)
  private def fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val latestPtr = new Path(rootPath, "_LATEST")

  /** Epochs per Filecoin day (30 s blocks): 2880. */
  val EpochsPerDay: Int = DealStateStore.EpochsPerDay

  def latestVersion: Option[Long] =
    if (!fs.exists(latestPtr)) recoverLatest() else Some(readText(latestPtr).trim.toLong)

  /** Pointer-loss recovery: a crash between the snapshot write and the
    * pointer flip (or a lost pointer file) must not read as an empty
    * table. The newest version directory whose write completed
    * (_SUCCESS present) is the recovered head. */
  private def recoverLatest(): Option[Long] = {
    if (!fs.exists(rootPath)) return None
    val complete = fs.globStatus(new Path(rootPath, "v=*")).map(_.getPath)
      .filter(p => fs.exists(new Path(p, "_SUCCESS")))
      .map(_.getName.stripPrefix("v=").toLong)
    if (complete.isEmpty) None else Some(complete.max)
  }

  private def emptyState: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ActiveDeal.schema)

  /** The state rows of the epoch-days `keep` accepts; empty (with
    * schema) when none. `read()` is the whole snapshot. Chain-aware:
    * full snapshots resolve to themselves, delta versions resolve each
    * epoch_day to the newest version that wrote it. */
  def read(keep: Int => Boolean = _ => true): DataFrame = {
    val paths = resolve(walk(latestVersion)).collect { case (d, (_, p)) if keep(d) => p.toString }
    if (paths.isEmpty) emptyState
    else spark.read.schema(ActiveDeal.schema).parquet(paths.toSeq: _*)
  }

  /** Every resolved epoch-day with the `_META` of the version that wrote it. */
  private def dayMetas(): Map[Int, Option[Meta]] = {
    val resolved = resolve(walk(latestVersion))
    val metas = resolved.values.map(_._1).toSet.map((v: Long) => v -> readMeta(v)).toMap
    resolved.map { case (d, (v, _)) => d -> metas(v) }
  }

  /** Every resolved epoch-day with its `_META` counters (None: the
    * writing version predates them). Zero Spark jobs. */
  def days(): Map[Int, Option[DayStats]] =
    dayMetas().map { case (d, m) => d -> m.flatMap(_.days.get(d)) }

  /** The days whose `open` counter is positive, plus every counter-less
    * day: the only days a loop gated on that counter can touch. */
  def openDays(open: DayStats => Long): Set[Int] =
    days().collect { case (d, s) if s.forall(open(_) > 0) => d }.toSet

  /** The days a submit tick at `now` can touch: the open-submit days,
    * minus those whose `submitUntil` term end is not after `now` (their
    * open-submit deals expired unsubmitted and are never eligible). A
    * day without the field counts as open. Zero Spark jobs. */
  def submitDays(now: java.sql.Timestamp): Set[Int] = {
    def live(until: Int): Boolean = (until.toLong * EpochFunctions.BlockDelaySeconds +
      EpochFunctions.GenesisUnixSeconds) * 1000L > now.getTime
    dayMetas().collect {
      case (d, m) if m.flatMap(_.days.get(d)).forall(_.openSubmit > 0) &&
          m.flatMap(_.submitUntil.get(d)).forall(live) => d
    }.toSet
  }

  /** Row count per retrievability state, summed from the counters; only
    * counter-less days are counted by a Spark job. */
  def stateCounts(): Map[String, Long] = {
    val ds = days()
    val unknown = ds.collect { case (d, None) => d }.toSet
    val scanned =
      if (unknown.isEmpty) Nil
      else read(unknown).groupBy("payload_retrievability_state").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
    (ds.values.flatten.flatMap(_.byState) ++ scanned)
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Row count, summed from the counters; only counter-less days are
    * counted by a Spark job. */
  def rowCount(): Long = {
    val ds = days()
    val unknown = ds.collect { case (d, None) => d }.toSet
    ds.values.flatten.map(_.rows).sum + (if (unknown.isEmpty) 0L else read(unknown).count())
  }

  /** Write a full replacement snapshot and flip the pointer. The rescan
    * floor carries over — compaction must not erase a pending
    * retraction rollback (the replacement events would be filtered out
    * of every future observe window). */
  def write(state: DataFrame): Long = {
    val prevFloor = latestVersion.flatMap(floorOf)
    val prevCeil = latestVersion.flatMap(ceilOf)
    val next = latestVersion.getOrElse(-1L) + 1
    val vdir = new Path(rootPath, s"v=$next")
    writeDays(state, vdir)
    writeMeta(vdir, parentMax = None, floor = prevFloor, ceil = prevCeil)
    flipPointer(next)
    gc(next)
    next
  }

  /** The partitioned write both writers share: one file per epoch-day
    * (all of a day's rows go to one task). */
  private def writeDays(rows: DataFrame, vdir: Path): Unit =
    rows
      .withColumn("epoch_day", dayCol)
      .repartition(col("epoch_day"))
      .write
      .partitionBy("epoch_day")
      .mode("overwrite")
      .parquet(vdir.toString)

  private def flipPointer(next: Long): Unit = {
    val out = fs.create(latestPtr, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Delta write: replace ONLY the epoch_day partitions present in
    * `changed`, carrying every other partition forward from the current
    * snapshot by reference (filesystem copy of untouched day dirs is
    * avoided; the new version stores just the changed days plus a
    * `_PARENT` pointer, and `read()` resolves days newest-first).
    *
    * This is the 100 TB write path: an ingest tick touches a handful of
    * recent epoch-days; rewriting them costs O(changed), not O(table).
    * A delta that leaves the chain deeper than 32 versions folds it
    * back into a full snapshot (`compact()`) and returns that
    * snapshot's version; the depth comes from the GC step's chain walk.
    *
    * `tombstoneDays` deletes whole epoch-days by reference: the version
    * records the day numbers in a `_TOMBSTONES` sidecar and `read()`
    * stops resolving them in older versions — so even a reorg that
    * empties a day costs O(changed), never a full rewrite. A tombstoned
    * day can be re-created by a later delta (the newest writer of a day
    * always wins).
    *
    * `lowerRescanFloor` / `raiseRescanCeil` record a RETRACTION: the
    * floor (lowest retracted epoch) and ceiling (highest) are persisted
    * in `_META`, inherited by every later version — appends and
    * compaction cannot erase them. The floor caps the watermark
    * `maxEpoch()` reports, so every future observe window keeps
    * including the retracted epochs; the ceiling is what age-out
    * clearing must test (`clearRescanFloor`) — the floor alone would
    * clear while the TOP of the retracted span is still inside the
    * lookback window, losing late replacement re-deliveries for those
    * epochs. Without the persistent floor, the replacement events would
    * be filtered out of the window by any intervening append (which
    * restores the monotone max) and lost forever. */
  def writeDelta(
      changed: DataFrame,
      tombstoneDays: Set[Int] = Set.empty,
      lowerRescanFloor: Option[Int] = None,
      raiseRescanCeil: Option[Int] = None,
      clearRescanFloor: Boolean = false): Long = {
    val next = latestVersion.getOrElse(-1L) + 1
    val parent = latestVersion
    val vdir = new Path(rootPath, s"v=$next")
    writeDays(changed, vdir)
    parent.foreach { p =>
      val out = fs.create(new Path(vdir, "_PARENT"), true)
      try out.write(p.toString.getBytes("UTF-8")) finally out.close()
    }
    if (tombstoneDays.nonEmpty) {
      val out = fs.create(new Path(vdir, "_TOMBSTONES"), true)
      try out.write(tombstoneDays.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    val inheritedFloor = if (clearRescanFloor) None else parent.flatMap(floorOf)
    val inheritedCeil = if (clearRescanFloor) None else parent.flatMap(ceilOf)
    val floor = (inheritedFloor.toSeq ++ lowerRescanFloor.toSeq).reduceOption(_ min _)
    // an inherited floor without a ceiling (pre-ceiling _META layout)
    // or a floor lowered without an explicit raise leaves the span top
    // UNKNOWN. Persisting it as no-ceiling would make the floor
    // NEVER-aged — a permanent full-lookback rescan tax on every future
    // tick — so backfill a SOUND ceiling: the store's raw max epoch
    // right now. Sound because every retracted epoch is either
    // ≤ rawMax (then the ceil age-out test covers it: clearing requires
    // rawMax < head − maxPastEpochs, which puts the epoch below the
    // lookback clamp anyway), or > rawMax (then the UNCAPPED watermark
    // already sits below it, so its replacements re-enter every observe
    // window without the floor's help). Guessing the FLOOR as the top
    // would not be sound — epochs between floor and true top could age
    // out while still reachable; the raw max never has that gap.
    val inheritedKnown = inheritedFloor.isEmpty || inheritedCeil.isDefined
    val newKnown = lowerRescanFloor.isEmpty || raiseRescanCeil.isDefined
    val knownCeil = (inheritedCeil.toSeq ++ raiseRescanCeil.toSeq).reduceOption(_ max _)
    val ceil =
      if (floor.isEmpty) None
      else if (inheritedKnown && newKnown) knownCeil
      else {
        val backfill = parent.flatMap(metaMaxOf).orElse {
          // pre-sidecar layout: one distributed agg, paid once at
          // migration time (the pointer has not flipped — read() still
          // resolves the pre-delta chain)
          val r = read().agg(max("activated_at_epoch")).collect()(0)
          if (r.isNullAt(0)) None else Some(r.getInt(0))
        }
        (knownCeil.toSeq ++ backfill.toSeq).reduceOption(_ max _)
      }
    writeMeta(vdir, parentMax = parent.flatMap(metaMaxOf), floor = floor,
      ceil = if (floor.isEmpty) None else ceil)
    flipPointer(next)
    // the read-amplification budget: a chain past 32 versions folds
    if (gc(next) > 32) compact() else next
  }

  /** The GC step both writers run after the flip to `next`: delete every
    * `v=*` dir outside the chains of view `next` and view `next − 1`,
    * then every epoch-day dir of those chains that neither view
    * resolves. The chains' version dirs and control files stay: the
    * chain walk, pointer recovery and the rescan span read them. One
    * root listing beside the chain walk, no Spark job: a delta's parent
    * view is its own chain's tail, so only a full write walks twice.
    * Returns the depth of the chain from `next`. */
  private def gc(next: Long): Int = {
    val head = walk(Some(next))
    val prev =
      if (head.drop(1).headOption.exists(_.version == next - 1)) head.drop(1)
      else walk(Some(next - 1).filter(_ >= 0))
    val chains = (head ++ prev).distinctBy(_.version)
    val keep = chains.map(_.version).toSet
    fs.globStatus(new Path(rootPath, "v=*")).map(_.getPath)
      .filterNot(p => keep(p.getName.stripPrefix("v=").toLong))
      .foreach(fs.delete(_, true))
    val live = (resolve(head).values ++ resolve(prev).values).map(_._2).toSet
    for (l <- chains; (_, p) <- l.days if !live(p)) fs.delete(p, true)
    head.size
  }

  /** Per-version metadata sidecar (`v=N/_META`): the table-level
    * high-watermark (max `activated_at_epoch` across the WHOLE logical
    * state as of this version), the rescan span, and the per-day
    * counters of the days this version wrote (see the class doc). All
    * come from ONE grouped aggregate over the just-written files
    * (O(changed) for deltas), so ingest ticks read the watermark in O(1)
    * instead of `agg(max)` over the table — at 100 TB that agg is a
    * full state scan every 10 s tick — and the loops pick their days
    * without scanning. */
  private def writeMeta(
      vdir: Path, parentMax: Option[Int], floor: Option[Int] = None,
      ceil: Option[Int] = None): Unit = {
    val written = fs.globStatus(new Path(vdir, "epoch_day=*"))
    val st = col("payload_retrievability_state")
    val openSubmit = col("payload_cid").isNotNull && col("submitted_at").isNull
    // (day, state, rows, max epoch, open-resolve rows, open-submit rows,
    // latest open-submit term end)
    val groups: Array[(Int, String, Long, Int, Long, Long, Option[Int])] =
      if (written.isEmpty) Array.empty
      else spark.read.schema(WrittenSchema).parquet(vdir.toString)
        .groupBy(col("epoch_day"), st)
        .agg(count(lit(1)), max("activated_at_epoch"),
          count(when(col("payload_cid").isNull && st.isin(St.NotQueried, St.Unresolved), 1)),
          count(when(openSubmit, 1)),
          max(when(openSubmit, col("term_start_epoch") + col("term_min"))))
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getInt(3), r.getLong(4),
          r.getLong(5), if (r.isNullAt(6)) None else Some(r.getInt(6))))
    val ownMax = if (groups.isEmpty) None else Some(groups.map(_._4).max)
    val tableMax = (ownMax.toSeq ++ parentMax.toSeq).reduceOption(_ max _)
    val json = Mapper.createObjectNode()
    def opt(name: String, v: Option[Int]): Unit =
      v.fold(json.putNull(name))(x => json.put(name, x))
    opt("maxEpoch", tableMax)
    opt("rescanFloor", floor)
    opt("rescanCeil", ceil)
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
    val out = fs.create(new Path(vdir, "_META"), true)
    try out.write(Mapper.writeValueAsBytes(json)) finally out.close()
  }

  /** None = no sidecar (pre-sidecar layout). */
  private def readMeta(version: Long): Option[Meta] = {
    val p = new Path(rootPath, s"v=$version/_META")
    if (!fs.exists(p)) None
    else {
      val node = Mapper.readTree(readText(p))
      def field(name: String): Option[Int] = {
        val f = node.get(name)
        if (f == null || f.isNull) None else Some(f.asInt)
      }
      // the counters exist only in layouts that write all four maps
      val counters = Seq("dayRows", "dayStates", "openResolve", "openSubmit")
        .map(n => Option(node.get(n)))
      val days: Map[Int, DayStats] = counters match {
        case Seq(Some(rows), Some(states), Some(res), Some(sub)) =>
          import scala.jdk.CollectionConverters._
          rows.properties().asScala.map { e =>
            val k = e.getKey
            k.toInt -> DayStats(
              e.getValue.asLong,
              states.get(k).properties().asScala.map(s => s.getKey -> s.getValue.asLong).toMap,
              res.get(k).asLong, sub.get(k).asLong)
          }.toMap
        case _ => Map.empty
      }
      val submitUntil: Map[Int, Int] = Option(node.get("submitUntil")).fold(Map.empty[Int, Int]) {
        n =>
          import scala.jdk.CollectionConverters._
          n.properties().asScala.map(e => e.getKey.toInt -> e.getValue.asInt).toMap
      }
      Some(Meta(field("maxEpoch"), field("rescanFloor"), field("rescanCeil"), days, submitUntil))
    }
  }

  private def metaMaxOf(version: Long): Option[Int] = readMeta(version).flatMap(_.maxEpoch)
  private def floorOf(version: Long): Option[Int] = readMeta(version).flatMap(_.floor)
  private def ceilOf(version: Long): Option[Int] = readMeta(version).flatMap(_.ceil)

  /** The raw stored max `activated_at_epoch` (monotone; NOT floor-
    * capped) — receipt detection compares re-deliveries against it. */
  def storedMaxEpoch(): Option[Int] = latestVersion.flatMap { v =>
    readMeta(v).map(_.maxEpoch).getOrElse {
      val r = read().agg(max("activated_at_epoch")).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getInt(0))
    }
  }

  /** The open rescan floor, if a retraction is awaiting its
    * replacement delivery. */
  def rescanFloor(): Option[Int] = latestVersion.flatMap(floorOf)

  /** The open rescan span's HIGHEST retracted epoch — what age-out
    * clearing must compare against the lookback bound (the floor alone
    * would clear while higher retracted epochs are still reachable).
    * None while a floor is open means the span top is UNKNOWN (a
    * pre-ceiling `_META` inherited and not yet touched by a delta):
    * callers must treat that as not-aged-out. The state is transient —
    * the next `writeDelta` backfills a sound ceiling (see there), so an
    * inherited floor cannot hold the watermark down forever. */
  def rescanCeil(): Option[Int] = latestVersion.flatMap(ceilOf)

  /** O(1) ingest watermark: the stored max `activated_at_epoch`, read
    * from the latest version's `_META` sidecar without any Spark job —
    * capped below any open rescan floor so observe windows keep
    * including retracted epochs until their replacements arrive. Falls
    * back to a distributed `agg(max)` only for pre-sidecar layouts.
    * Empty store → None. */
  def maxEpoch(): Option[Int] = {
    val raw = storedMaxEpoch()
    rescanFloor() match {
      case Some(f) => raw.map(m => math.min(m, f - 1))
      case None => raw
    }
  }

  private def readText(p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
  }

  /** One version as one listing of its directory shows it; None when
    * the directory is gone. */
  private def listVersion(version: Long): Option[Listed] = {
    val vdir = new Path(rootPath, s"v=$version")
    val entries =
      try fs.listStatus(vdir) catch { case _: java.io.FileNotFoundException => return None }
    val names = entries.map(_.getPath.getName).toSet
    val days = entries.map(_.getPath).filter(_.getName.startsWith("epoch_day="))
      .map(p => p.getName.stripPrefix("epoch_day=").toInt -> p).toMap
    val tombstones =
      if (!names("_TOMBSTONES")) Set.empty[Int]
      else readText(new Path(vdir, "_TOMBSTONES")).split("\n").filter(_.nonEmpty)
        .map(_.trim.toInt).toSet
    val parent =
      if (names("_PARENT")) Some(readText(new Path(vdir, "_PARENT")).trim.toLong) else None
    Some(Listed(version, days, tombstones, parent))
  }

  /** The chain from `head`, newest first: one listing per version. */
  private def walk(head: Option[Long]): List[Listed] =
    head.flatMap(listVersion) match {
      case Some(l) => l :: walk(l.parent)
      case None => Nil
    }

  /** Resolve a chain (newest first): each epoch_day goes to the NEWEST
    * version that wrote it; a day tombstoned by a version stops
    * resolving in the versions older than it (its own day dirs come
    * first, so a re-creation of a tombstoned day still wins). */
  private def resolve(chain: List[Listed]): Map[Int, (Long, Path)] = {
    var days = Map.empty[Int, (Long, Path)]
    var dead = Set.empty[Int]
    chain.foreach { l =>
      l.days.foreach { case (d, p) =>
        if (!days.contains(d) && !dead.contains(d)) days += d -> (l.version -> p)
      }
      dead ++= l.tombstones
    }
    days
  }

  /** Length of the current delta chain (1 = full snapshot). */
  def chainDepth(): Int = walk(latestVersion).size

  /** The chain's depth, and the part files and bytes of every epoch-day
    * dir under `v=*` (the previous chain a compaction replaced included,
    * until the next write's GC): the chain walk plus one glob, zero
    * Spark jobs. */
  def footprint(): Footprint = {
    val parts = fs.globStatus(new Path(rootPath, "v=*/epoch_day=*/part-*"))
    Footprint(chainDepth(), parts.length, parts.map(_.getLen).sum)
  }

  /** Fold the delta chain into one full snapshot (`writeDelta` runs it
    * when the chain outgrows the read-amplification budget). */
  def compact(): Long = write(read())
}

object DealStateStore {
  /** Epochs per Filecoin day (30 s blocks): 2880. */
  val EpochsPerDay = 2880

  /** The partition column: a row's epoch-day. */
  def dayCol: Column =
    (org.apache.spark.sql.functions.col("activated_at_epoch") / EpochsPerDay).cast("int")

  /** `dayCol` for one epoch (same truncation). */
  def dayOf(epoch: Int): Int = epoch / EpochsPerDay

  /** One epoch-day's `_META` counters (see the class doc). */
  final case class DayStats(
      rows: Long, byState: Map[String, Long], openResolve: Long, openSubmit: Long)

  /** The store's on-disk gauges: delta-chain depth, and the part files
    * and bytes under every version's `epoch_day=*` dirs. */
  final case class Footprint(chainDepth: Int, dayFiles: Long, dayBytes: Long)

  /** One chain version's listing: the epoch-day dirs it wrote, the days
    * its `_TOMBSTONES` hide in older versions, its `_PARENT`. */
  private final case class Listed(
      version: Long, days: Map[Int, Path], tombstones: Set[Int], parent: Option[Long])

  /** `submitUntil`: per written day, the latest open-submit term end
    * epoch (absent: no open-submit row, or an older layout). */
  private final case class Meta(
      maxEpoch: Option[Int], floor: Option[Int], ceil: Option[Int], days: Map[Int, DayStats],
      submitUntil: Map[Int, Int])

  /** The schema of a version directory read with its partition column. */
  private val WrittenSchema = ActiveDeal.schema.add("epoch_day", IntegerType)

  private val Mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

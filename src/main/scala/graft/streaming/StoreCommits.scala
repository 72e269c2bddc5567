package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The commit protocol every durable store shares — the four ANN stores
  * (the [[VectorStore]] lifecycle) and the dedup store with its label
  * sub-stores — and its one home: `_PARTS` layout pinning, manifest
  * visibility (`_MANIFEST`, `_FOLDED`), commit publishing and reading,
  * the ONE fold-and-swap ([[foldAndSwap]]) with time-based GC grace
  * ([[gcUnlisted]], `_RETIRED`), tombstone deletes, and the generic
  * two-phase pending-marker promote for data-fit models. A fix to the
  * commit, fold or GC machinery lands HERE, once. The store lifecycle
  * and the refit two-phase commit are documented at [[VectorStore]]. */
private[graft] object StoreCommits {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Atomic control-file replace: temp file + FileContext rename with
    * OVERWRITE (atomic on posix-local and HDFS — never a window where
    * the file is partial). The text is written as given: a name set is
    * its sorted lines ([[lines]]), and centroid/codebook rows keep their
    * file order because stored codes index into it. */
  def writeTextFile(
      spark: SparkSession, root: Path,
      fileName: String, text: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, root)
    val tmp = new Path(root,
      s"_$fileName.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(root.toUri, conf)
    fc.rename(tmp, new Path(root, fileName),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Read a small control file, retrying on ChecksumException: the
    * rename swap is atomic for the DATA file on posix-local and HDFS,
    * but the local ChecksumFileSystem moves the `.crc` sidecar in a
    * SECOND step, so a reader racing the swap can momentarily see new
    * bytes against the old checksum. HDFS/object stores have no
    * client-side sidecar (the window doesn't exist there); locally the
    * re-open lands after the sidecar rename. Bounded, so a genuinely
    * corrupt file still fails loudly. */
  def readSmallText(f: FileSystem, p: Path): Option[String] = {
    var attempt = 0
    while (true) {
      if (!f.exists(p)) return None
      try {
        val in = f.open(p)
        return Some(
          try scala.io.Source.fromInputStream(in).mkString finally in.close())
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          if (attempt >= 20) throw e
          Thread.sleep(5L * attempt)
      }
    }
    None // unreachable
  }

  // ======== store layout marker ========

  /** The `_PARTS` family of a store no content-keyed writer has claimed
    * yet: the vector stores and the labels sub-stores hash only ids and
    * components (family-independent), so a store whose FIRST writer is
    * one of them pins its partition count without committing to a
    * shingle-key family; the first content-keyed writer (a dedup
    * sketch/span/exact step) then upgrades the marker in place.
    * Partition-count drift stays fatal either way. */
  val NoKeyFamily = 0

  /** The one `_PARTS` parser: `<parts>/<family>`. A truncated or
    * hand-edited marker is an IllegalArgumentException naming it, never
    * a bare NumberFormatException or MatchError. */
  private def parseParts(dir: Path, txt: String): (Int, Int) =
    txt.trim.split('/').map(s => if (s.forall(_.isDigit)) s.toIntOption else None) match {
      case Array(Some(p), Some(f)) => (p, f)
      case _ => throw new IllegalArgumentException(
        s"store $dir has a malformed _PARTS marker '${txt.trim}' " +
          "(expected '<parts>/<family>', e.g. '64/2') — " +
          "rebuild the store or restore the marker to the writing config")
    }

  /** The pinned partition count from the store's `_PARTS` marker. */
  def storePartsOf(f: FileSystem, dir: Path): Int =
    parseParts(dir, readSmallText(f, new Path(dir, "_PARTS")).getOrElse(
      throw new IllegalArgumentException(s"store $dir has no _PARTS marker")))._1

  /** Layout/key-family marker, checked BEFORE any store read or write.
    * Two silent-corruption vectors die here, loudly:
    *   - `parts` drift: pruned reads pick subdirectories by
    *     `hash mod parts` — a store written at 64 parts read at 256
    *     would silently skip most matching history;
    *   - key-family drift: signatures from a different shingle-hash
    *     family (including any pre-marker store) agree with new
    *     signatures only by chance, so every cross-history near-dup
    *     would silently read as unique.
    * First commit writes the marker; every later commit must match
    * ([[NoKeyFamily]] matches any family). */
  def ensureStoreMeta(
      spark: SparkSession, root: String, parts: Int, family: Int): Unit = {
    val dir = new Path(root)
    val f = fs(spark, dir)
    readSmallText(f, new Path(dir, "_PARTS")) match {
      case Some(raw) =>
        val txt = raw.trim
        val (p, fam) = parseParts(dir, txt)
        def drifted = s"store $root was written with parts/family=$txt; this config is " +
          s"$parts/$family — rebuild the store or match the writing config"
        require(p == parts, drifted)
        if (family != NoKeyFamily) {
          if (fam == NoKeyFamily) // id-keyed-first store: claim the family
            writeTextFile(spark, dir, "_PARTS", s"$parts/$family")
          else require(fam == family, drifted)
        }
      case None =>
        // commits live one level down (buckets/sigs/spans sub-stores)
        val hasCommits = f.exists(dir) && f.listStatus(dir).exists { s =>
          s.isDirectory && (s.getPath.getName.startsWith("batch=") ||
            f.listStatus(s.getPath).exists(c =>
              c.isDirectory && c.getPath.getName.startsWith("batch=")))
        }
        require(!hasCommits,
          s"store $root has commits but no _PARTS marker, so its partition " +
            "count and shingle-key family cannot be verified. If it was written " +
            s"by THIS key family at partition count P, adopt it by writing 'P/$family' " +
            s"to $root/_PARTS; otherwise rebuild it (signatures from another " +
            "family agree with new ones only by chance) or pin the old code")
        f.mkdirs(dir)
        // atomic temp+rename: a crash mid-write must not leave an
        // empty/partial marker that fails every later tick's
        // parts/family check until hand-repaired — the marker is either
        // absent (rewritten next tick) or complete
        writeTextFile(spark, dir, "_PARTS", s"$parts/$family")
    }
  }

  // ======== commit visibility ========

  /** A sub-store root's `_MANIFEST`, when present, lists EXACTLY the
    * commit dirs readers may see — the atomic commit point of
    * [[foldAndSwap]]: folded data is written under an UNLISTED dir name,
    * then one atomic manifest swap makes the folded commit visible and
    * the replaced commits invisible in the same instant. Without a
    * manifest (a never-compacted dedup sub-store), every `batch=*` dir
    * is visible. Kept O(commits since the last fold): the tick path
    * rewrites it once per commit. */
  def readManifest(f: FileSystem, root: Path): Option[Set[String]] =
    readNames(f, new Path(root, "_MANIFEST"))

  /** The `_FOLDED` ledger: names of commits a fold ever replaced. A
    * micro-batch replayed from a rolled-back checkpoint AFTER its commit
    * was folded away rewrites its data dirs, and re-publishing them
    * would double its rows beside the folded copy — the ledger keeps
    * such rewrites invisible (the replay still EMITS its pairs; only the
    * store fold is suppressed, which is exactly right because the folded
    * commit already holds those rows). Separate from `_MANIFEST` so the
    * per-tick publish rewrites only the small visible list; only folds
    * and tombstone retirement rewrite the ledger. */
  def readFolded(f: FileSystem, root: Path): Set[String] =
    readNames(f, new Path(root, "_FOLDED")).getOrElse(Set.empty)

  private def readNames(f: FileSystem, p: Path): Option[Set[String]] =
    readSmallText(f, p).map(_.split('\n').map(_.trim).filter(_.nonEmpty).toSet)

  /** A name set as its control-file text: the names sorted, one a line. */
  private def lines(names: Set[String]): String = names.toSeq.sorted.mkString("\n")

  private def namesOf(commits: Seq[FileStatus]): Set[String] =
    commits.map(_.getPath.getName).toSet

  def writeManifest(spark: SparkSession, root: Path, dirs: Set[String]): Unit =
    writeTextFile(spark, root, "_MANIFEST", lines(dirs))

  /** Visible commit dirs under a sub-store root: manifest-filtered when
    * a manifest exists, plain `batch=*` listing otherwise. */
  def visibleCommits(f: FileSystem, root: Path): Seq[FileStatus] = {
    if (!f.exists(root)) return Nil
    val manifest = readManifest(f, root)
    f.listStatus(root).filter(_.isDirectory).toSeq
      .filter(_.getPath.getName.startsWith("batch="))
      .filter(s => manifest.forall(_.contains(s.getPath.getName)))
  }

  /** A commit's name is made reader-visible: no-op for manifest-less
    * stores (listing is the visibility), idempotent otherwise. A name
    * the `_FOLDED` ledger records is never resurrected — see
    * [[readFolded]]. */
  def publishCommit(spark: SparkSession, root: Path, name: String): Unit = {
    val f = fs(spark, root)
    readManifest(f, root).foreach { visible =>
      if (!visible.contains(name) && !readFolded(f, root).contains(name))
        writeManifest(spark, root, visible + name)
    }
  }

  /** The store's HISTORY view for one batch, PRUNED to the key
    * partitions the batch can touch: lists every VISIBLE commit
    * EXCEPT the current batch's own (a replayed batch must not treat
    * its previous, possibly partial, commit as history), then inside
    * each commit keeps only the `<partCol>=<k>` subdirectories with
    * `wanted(k)` — the one structural guarantee that a tick's read is
    * O(batch keys), not O(corpus). Layout compatibility is enforced by
    * [[ensureStoreMeta]] before this is called. Listing is explicit,
    * so the read needs no partition discovery and an empty/missing
    * store stays a clean miss. */
  def readStore(
      spark: SparkSession, dir: String, schema: StructType,
      excludeTag: String, partCol: String, wanted: Int => Boolean): DataFrame = {
    val p = new Path(dir)
    val f = fs(spark, p)
    readStoreFrom(spark, visibleCommits(f, p), schema, excludeTag, partCol, wanted, f)
  }

  /** [[readStore]] over an ALREADY-RESOLVED commit set — the round-18
    * consistency thread: a search resolves its visible commits ONCE and
    * feeds the same set to the scan, the read mask, and the
    * compacted fast-path decision, so a fold landing mid-search can
    * never split them across generations. A commit without
    * `<partCol>=` subdirectories (an L0 single-file or an empty commit)
    * is read whole. */
  def readStoreFrom(
      spark: SparkSession, commits: Seq[FileStatus], schema: StructType,
      excludeTag: String, partCol: String, wanted: Int => Boolean,
      f0: FileSystem = null): DataFrame = {
    if (commits.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val f = Option(f0).getOrElse(fs(spark, commits.head.getPath))
    val leaves: Seq[String] = commits
      .filterNot(_.getPath.getName == s"batch=$excludeTag")
      .flatMap { b =>
        val subs = f.listStatus(b.getPath).filter(_.isDirectory)
          .filter(_.getPath.getName.startsWith(s"$partCol="))
        if (subs.isEmpty) Seq(b.getPath.toString)
        else subs.toSeq
          .filter(s => wanted(s.getPath.getName.stripPrefix(s"$partCol=").toInt))
          .map(_.getPath.toString)
      }
    if (leaves.nonEmpty)
      spark.read.schema(schema).parquet(leaves: _*)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  // ======== deferred physical GC (round-17 optimization round) ========
  //
  // The one-generation grace window is a RACE at read latency scale: a
  // reader resolves the manifest, captures its leaf list, and reads
  // lazily — if TWO compactions complete before its last file open, the
  // second one physically deletes the generation it is reading
  // (observed: the concurrent-searcher spec's FAILED_READ_FILE on
  // batch=w2 under full-suite load, where each read spans several Spark
  // jobs and the writer folds every other tick). Generations are
  // therefore retired by TIME, not by count: a replaced commit is
  // stamped into a `_RETIRED` ledger at the manifest swap and its files
  // are deleted only once the stamp is older than the grace window —
  // the snapshot-retention contract table formats use (Iceberg's
  // expire_snapshots(older_than)). Visibility is unchanged (the
  // manifest hides retired dirs from every NEW reader the instant the
  // swap lands); only physical file lifetime extends, so disk cost is
  // bounded by the writes inside one grace window. Never-visible strays
  // (a crashed partial write that no manifest ever listed) still delete
  // immediately — no reader can hold a reference to them.

  /** Grace window for retired commit dirs. Parameterized for scale
    * (`SPARK_GRAFT_GC_GRACE_MS`; sys-prop override for tests): the
    * default must exceed the slowest expected reader's manifest-resolve
    * → last-file-open span. Readers slower than the grace re-resolve
    * and retry — the standard snapshot-retention contract. */
  def defaultGcGraceMs: Long =
    sys.props.get("graft.gc.grace.ms")
      .orElse(sys.env.get("SPARK_GRAFT_GC_GRACE_MS"))
      .map(_.trim.toLong).getOrElse(600000L)

  private def readRetired(
      f: FileSystem,
      root: Path): Map[String, Long] =
    readSmallText(f, new Path(root, "_RETIRED"))
      .map(_.linesIterator.map(_.trim).filter(_.nonEmpty).flatMap { l =>
        val i = l.lastIndexOf(' ')
        if (i <= 0) None
        else scala.util.Try(l.substring(0, i) -> l.substring(i + 1).toLong).toOption
      }.toMap).getOrElse(Map.empty)

  private def writeRetired(spark: SparkSession, root: Path, ledger: Map[String, Long]): Unit =
    writeTextFile(spark, root, "_RETIRED",
      ledger.toSeq.sorted.map { case (n, t) => s"$n $t" }.mkString("\n"))

  /** Sweep UNLISTED commit dirs under `root`: manifest-visible dirs are
    * untouchable; `stampNow` names (the generation this call just
    * replaced / the tombstones it just applied) are stamped into the
    * ledger; once-visible dirs (in `_FOLDED` or already stamped) are
    * deleted only when their stamp is older than `graceMs`;
    * never-visible strays delete immediately. Ledger entries for
    * vanished dirs drop out naturally (the rewrite keeps only what the
    * listing walk retained). */
  def gcUnlisted(
      spark: SparkSession, root: Path,
      graceMs: Long, stampNow: Set[String]): Unit = {
    val f = fs(spark, root)
    if (!f.exists(root)) return
    readManifest(f, root) match {
      case None => () // no manifest authority: never delete
      case Some(visible) =>
        val folded = readFolded(f, root)
        val ledger = readRetired(f, root)
        val now = System.currentTimeMillis()
        var next = Map.empty[String, Long]
        f.listStatus(root).filter(_.isDirectory)
          .map(_.getPath).filter(_.getName.startsWith("batch="))
          .filterNot(p => visible.contains(p.getName))
          .foreach { p =>
            val name = p.getName
            if (stampNow.contains(name)) next += name -> now
            else if (!folded.contains(name) && !ledger.contains(name)) {
              f.delete(p, true); () // never-visible stray
            } else {
              val t = ledger.getOrElse(name, now)
              if (now - t >= graceMs) { f.delete(p, true); () }
              else next += name -> t
            }
          }
        if (next != ledger) writeRetired(spark, root, next)
    }
  }

  /** Visible `batch=` commit count of a store data root — the
    * manifest's size when claimed, else a directory listing. Because
    * every fold (compaction or refit) collapses the manifest to ONE
    * entry and every tick publishes one more, this count is the tick
    * distance from the last fold — the drift auto-refit's cooldown
    * signal (no extra state file). */
  def visibleCommitCount(spark: SparkSession, dataRoot: String): Int = {
    val root = new Path(dataRoot)
    val f = fs(spark, root)
    readManifest(f, root).map(_.size).getOrElse(
      if (f.exists(root))
        f.listStatus(root).count(s =>
          s.isDirectory && s.getPath.getName.startsWith("batch="))
      else 0)
  }

  /** The commits a claim adopts on a root no manifest claims yet: the
    * `_SUCCESS`-complete ones. A manifest-less listing may hold a
    * PARTIALLY-written dir (a tick that crashed mid-write task-committed
    * parquet files but never the job's `_SUCCESS`); adopting it would
    * freeze the partial rows forever, because `_FOLDED` then suppresses
    * the replay's clean rewrite. Left out, it turns invisible the
    * instant the manifest exists, the next GC collects it, and the
    * replay rewrites and publishes it normally. */
  private def adoptable(f: FileSystem, root: Path): Seq[FileStatus] =
    visibleCommits(f, root).filter(s => f.exists(new Path(s.getPath, "_SUCCESS")))

  /** Manifest-gated from birth: claim a `_MANIFEST` before the first
    * commit so readers never see a half-written dir through the
    * manifest-less listing fallback; adopt the [[adoptable]] dirs if
    * the file is somehow absent on a non-empty store. */
  def ensureManifestClaimed(spark: SparkSession, root: Path): Unit = {
    val f = fs(spark, root)
    if (!f.exists(new Path(root, "_MANIFEST"))) {
      f.mkdirs(root)
      writeManifest(spark, root, namesOf(adoptable(f, root)))
    }
  }

  /** The EFFECTIVE pinned model under the two-phase `<marker>.pending`
    * promote — the crash-healing read shared by the refitting stores.
    * A refit stages the new model as `<marker>.pending` naming its
    * re-encoded commit, then swaps the manifest (THE commit point),
    * then promotes pending → `<marker>`. This resolves either crash
    * window: a pending whose target IS visible is the post-swap truth
    * (and `promote = true` finishes the promotion); a pending whose
    * target is NOT visible is a pre-swap dead letter and the standing
    * marker wins. */
  def effectivePinned[M](
      spark: SparkSession, storeDir: String, subdir: String, marker: String,
      parse: String => M, render: M => String,
      targetOf: M => Option[String], clearTarget: M => M,
      promote: Boolean): Option[M] = {
    val dir = new Path(storeDir)
    val f = fs(spark, dir)
    val root = new Path(dir, subdir)
    val pendingPath = new Path(dir, s"$marker.pending")
    // (the effective model, whether the store has a visible commit)
    def resolveOnce(): (Option[M], Boolean) = {
      val pending = readSmallText(f, pendingPath).map(parse)
      val visible = readManifest(f, root).getOrElse(Set.empty)
      pending match {
        case Some(m) if targetOf(m).exists(visible.contains) =>
          if (promote) {
            writeTextFile(spark, dir, marker, render(clearTarget(m)))
            f.delete(pendingPath, false)
          }
          (Some(clearTarget(m)), true)
        case _ =>
          (readSmallText(f, new Path(dir, marker)).map(parse),
            visible.nonEmpty)
      }
    }
    // Marker OVERWRITES (a refit re-pin, a concurrent promote) go
    // through rename-with-OVERWRITE, which on the local filesystem is
    // delete-then-rename — NOT atomic, so a concurrent reader can
    // observe a VANISHING marker for microseconds (caught by the
    // concurrent-searcher spec under heavy host contention: a search
    // falling through pending straight into the delete window read
    // "no marker" on a live store). A store that ever HAD a marker
    // only lacks one transiently, so an empty resolution retries
    // briefly before it is believed. Only a store with a visible commit
    // can be mid-overwrite (a promotion needs a refit, a refit needs
    // commits), so a fresh store's first upsert pays no retry.
    var attempt = 0
    var (out, committed) = resolveOnce()
    while (out.isEmpty && committed && attempt < 4) {
      Thread.sleep(25L)
      attempt += 1
      val (o, c) = resolveOnce()
      out = o; committed = c
    }
    out
  }

  // ======== per-id version election (round 17) ========
  //
  // The round-16 verdict's one substantive hole: the stores' documented
  // "latest-wins" upsert contract was false — no per-id version existed
  // anywhere, so an id re-upserted with a changed vector left BOTH rows
  // live forever and search served max-similarity-over-versions. These
  // primitives make upsert mean upsert in all four ANN stores at once:
  //   - every upsert commit is stamped with one monotonic store-wide
  //     version ([[nextVersion]] — a `_SEQ` control file, single-writer
  //     like every store write);
  //   - search masks superseded rows GLOBALLY ([[deltaMasked]]): the
  //     (id, ver) projection of the delta commits since the last fold
  //     is reduced to max-ver-per-id, together with the tombstones —
  //     so a stale row in a PROBED partition is dropped even when the
  //     newer version lives in a partition the query never opens (a
  //     groupBy-max on the pruned scan alone could not see it). Cost is
  //     bounded by upserts-since-compaction, exactly the tombstone
  //     bound, and a freshly-folded store with no pending delete pays
  //     nothing (the plan is untouched);
  //   - compaction keeps latest-per-id ([[electLatest]]), which also
  //     closes the row-per-update space leak.

  /** Fold-target name test: commits written by [[foldAndSwap]] carry
    * these prefixes (every store's compact/refit target). Everything
    * else is a DELTA commit — the bounded set [[deltaMasked]]
    * reads. */
  private def isFoldTarget(name: String): Boolean =
    name.startsWith("batch=compact-") || name.startsWith("batch=refit-")

  /** Marker written INSIDE a fold-target commit dir by [[foldAndSwap]]
    * when the caller's transform guarantees exactly one row per live id
    * ([[electLatestOne]]). The compacted fast paths trust one-row-per-id
    * ONLY for commits carrying this marker — a fold written by the
    * pre-round-17 [[electLatest]] (which keeps equal-version duplicate
    * rows) or by the multi-table LSH election never has it, so those
    * stores always pay the read-path election (round-17 ADVICE). */
  private val OneRowMarker = "_ONE_ROW_PER_ID"

  /** The store's next upsert version — a monotonic `_SEQ` counter under
    * the single-writer contract. The number is BURNED before the commit
    * it stamps becomes visible, so a crash mid-upsert skips a version
    * (harmless) rather than ever reusing one (two versions of an id
    * with the same number would make the election ambiguous). */
  def nextVersion(spark: SparkSession, storeDir: String): Long = {
    val dir = new Path(storeDir)
    val f = fs(spark, dir)
    f.mkdirs(dir)
    val v = readSmallText(f, new Path(dir, "_SEQ"))
      .map(_.trim.toLong).getOrElse(0L) + 1L
    writeTextFile(spark, dir, "_SEQ", v.toString)
    v
  }

  /** A collected read mask: `ids` ascending, `keeps(i)` the lowest
    * version of `ids(i)` that survives (Long.MaxValue: tombstoned). Two
    * primitive arrays, 16 bytes an id, shipped once per executor. */
  private final class KeepMask(ids: Array[Long], keeps: Array[Long]) extends Serializable {
    def survives(id: Long, ver: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(ids, id)
      i < 0 || ver >= keeps(i)
    }
  }

  /** THE store read mask, one per read: drop the rows a later upsert
    * superseded and the rows of tombstoned ids. It maps id → lowest
    * surviving version — the max version over the DELTA commits of the
    * adopted set `commits` (fold targets carry at most one version per id
    * already and every later upsert outversions them), and Long.MaxValue
    * for every id a visible tombstone under `tombSubdir` names (delete
    * wins until the compaction that applies it). The delta leaves are
    * read UNPRUNED — a stale row in a PROBED partition must drop even when
    * its newer version lives in a partition the query never opens. Both
    * sides are ONE relation, `(id, ver)` over the delta leaves unioned
    * with `(id, MaxValue)` over the tombstone leaves:
    *   - up to `broadcastDeltaBytes` of delta files it is reduced by a
    *     map-side max per id and collected (one plain-scan job, no
    *     shuffle), then applied as a filter over a broadcast variable,
    *     which launches no job (a broadcast join would: Spark collects a
    *     broadcast side through a job even from a local relation);
    *   - above it (a bulk-loaded, never-compacted store) it stays
    *     distributed: max per id, shuffle join.
    * The size rule reads the FILE LISTING, not a count() job: delta files
    * carry the vector column, ≥ ~300 B a row at dim 64, while a mask row
    * is 16 B, so 1 GiB of deltas is ≤ ~64 MB of mask. No delta and no
    * tombstone: the UNTOUCHED plan. `commits = Nil` is the tombstone-only
    * mask (compaction, label reads); `df` needs a `ver` column only when
    * the adopted set has delta commits. Size is bounded by upserts and
    * deletes since the last compaction, which retires both. */
  def deltaMasked(
      df: DataFrame, spark: SparkSession, storeDir: String, idCol: String,
      commits: Seq[FileStatus] = Nil,
      tombSubdir: String = "tombstones",
      broadcastDeltaBytes: Long = 1L << 30): DataFrame = {
    val f = fs(spark, new Path(storeDir))
    var deltaBytes = 0L
    // both layouts: hash-partitioned ab= subdirs, L0 single files
    val deltaLeaves = commits.filterNot(s => isFoldTarget(s.getPath.getName)).flatMap { b =>
      val kids = f.listStatus(b.getPath)
      val subs = kids.filter(s => s.isDirectory && s.getPath.getName.startsWith("ab="))
      deltaBytes += kids.iterator.filter(_.isFile).map(_.getLen).sum +
        subs.iterator.flatMap(s => f.listStatus(s.getPath)).map(_.getLen).sum
      if (subs.isEmpty) Seq(b.getPath.toString) else subs.toSeq.map(_.getPath.toString)
    }
    val tombLeaves = visibleCommits(f,
      new Path(s"$storeDir/$tombSubdir")).map(_.getPath.toString)
    if (deltaLeaves.isEmpty && tombLeaves.isEmpty) return df
    val verSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("ver",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rel = (Seq(deltaLeaves).filter(_.nonEmpty).map(ls =>
        spark.read.schema(verSchema).parquet(ls: _*).toDF("id", "ver")) ++
      Seq(tombLeaves).filter(_.nonEmpty).map(ls =>
        spark.read.schema(tombSchema).parquet(ls: _*).withColumn("ver", lit(Long.MaxValue))))
      .reduce(_ union _)
    if (deltaBytes > broadcastDeltaBytes) {
      val keep = rel.groupBy(col("id").as(idCol)).agg(max(col("ver")).as("__keep"))
      return df.join(keep, Seq(idCol), "left")
        .filter(col("__keep").isNull || col("ver") >= col("__keep")).drop("__keep")
    }
    // over the relation's own InternalRows: no typed-Dataset encoders
    // to derive and analyze per read
    val partial = rel.queryExecution.toRdd.mapPartitions { it =>
      val m = scala.collection.mutable.LongMap.empty[Long]
      it.foreach { r =>
        val (id, v) = (r.getLong(0), r.getLong(1))
        if (v > m.getOrElse(id, Long.MinValue)) m(id) = v
      }
      m.iterator
    }.collect()
    val byId = scala.collection.mutable.LongMap.empty[Long]
    partial.foreach { case (id, v) => if (v > byId.getOrElse(id, Long.MinValue)) byId(id) = v }
    val ids = byId.keys.toArray
    java.util.Arrays.sort(ids)
    val mask = spark.sparkContext.broadcast(new KeepMask(ids, ids.map(byId(_))))
    val live = udf(new org.apache.spark.sql.api.java.UDF2[Long, Long, Boolean] {
      def call(id: Long, ver: Long): Boolean = mask.value.survives(id, ver)
    }, org.apache.spark.sql.types.BooleanType)
    // a tombstone-only mask holds only MaxValue entries: any version drops
    df.filter(live(col(idCol), if (deltaLeaves.isEmpty) lit(0L) else col("ver")))
  }

  /** Compaction-side election: keep each id's max-version rows (ALL of
    * them — an LSH id legitimately holds one row per table within one
    * version). After this fold the store holds exactly one version per
    * live id, the documented latest-wins contract, and the space cost
    * of an update is zero across compactions. */
  def electLatest(df: DataFrame, idCol: String): DataFrame = {
    val mx = df.groupBy(col(idCol)).agg(max(col("ver")).as("__latest"))
    df.join(mx, Seq(idCol)).filter(col("ver") === col("__latest"))
      .drop("__latest")
  }

  /** [[electLatest]] for the SINGLE-row-per-id families (IVF/IVF-PQ/
    * IVF-SQ — everything but the multi-table LSH store): one max-struct
    * hash aggregation instead of the agg + self-join (one exchange
    * fewer per fold), and the fold output is guaranteed EXACTLY one row
    * per live id — an equal-version duplicate (the same id twice in one
    * batch) resolves by (ver, cvec, …) struct ordering, the
    * [[latestVecs]] tie-break, instead of surviving as two rows. That
    * guarantee is what lets [[liveVectors]] skip its election on a
    * freshly-compacted store (optimization round 17). */
  def electLatestOne(df: DataFrame, idCol: String): DataFrame = {
    val others = df.columns.filter(_ != idCol).toSeq
    val ordered = Seq("ver", "cvec").filter(others.contains) ++
      others.filterNot(Set("ver", "cvec"))
    df.groupBy(col(idCol)).agg(max(struct(ordered.map(col): _*)).as("__m"))
      .select(col(idCol) +: others.map(c => col(s"__m.$c").as(c)): _*)
  }

  /** Re-layout a just-written (still UNPUBLISHED) flat commit into the
    * hash-partitioned layout — the rare BULK branch of the observe-fused
    * upsert (optimization round 18): the batch count now rides the
    * commit write as an observed metric instead of a separate
    * persist + count() pass, so the layout decision lands AFTER the
    * write; a batch over the L0 bound re-lays out from the commit's own
    * columnar files (replacing the extra cached pass the old shape
    * paid). The temp dir `batch=<tag>.tmp-<uuid>` is never
    * manifest-listed → invisible to every reader; a crash mid-relayout
    * leaves either the flat commit (correct, merely unpruned until the
    * next fold) or a stray dir the next compaction sweep deletes. */
  def relayout(
      spark: SparkSession, commitDir: String, schema: StructType,
      withAb: DataFrame => DataFrame): Unit = {
    val dirP = new Path(commitDir)
    val f = fs(spark, dirP)
    val tmp = new Path(
      s"$commitDir.tmp-${java.util.UUID.randomUUID()}")
    withAb(spark.read.schema(schema).parquet(commitDir))
      .repartition(col("ab")).write.partitionBy("ab")
      .mode("overwrite").parquet(tmp.toString)
    f.delete(dirP, true)
    org.apache.hadoop.fs.FileContext
      .getFileContext(dirP.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, dirP)
    ()
  }

  /** Cell-OCCUPANCY drift signal (round 17): total-variation distance
    * between a tick's per-cell member distribution and the fit-time
    * occupancy recorded in the store marker. The reconstruction-error
    * monitors have a measured blind spot on weak-structure corpora
    * (round-16 SQ rehearsal: a ×3 scale + offset shift reads ratio
    * ~1.00 for both IVF-SQ and IVF-PQ — clamping and normalization
    * absorb the shift, and a near-isotropic corpus fits at the error
    * ceiling so there is no quality left to lose). Occupancy sees
    * exactly that failure mode: a regime shift re-routes vectors into
    * different cells even when their reconstruction error is
    * unchanged, so the tick's cell histogram diverges from the pinned
    * baseline. TV ∈ [0, 1]: 0 = identical distribution, 1 = disjoint
    * support. Stationary sampling noise at tick sizes ≥ ~10k rows and
    * nlist ≤ 64 sits under ~0.1 (per-cell sd √(p(1−p)/n) summed);
    * the rehearsed shift families read ≥ 0.8. Takes the already-
    * collected (cell, members) pairs — the monitor relation is nlist
    * rows and each store's drift check collects it ONCE for both
    * signals. */
  def occupancyTv(cells: Seq[(Int, Long)], base: Array[Double]): Option[Double] = {
    if (base.isEmpty) return None
    val n = cells.iterator.map(_._2).sum
    // a histogram over nlist cells needs O(nlist) samples before TV
    // means anything: at n ≈ nlist the expected TV of an IDENTICALLY
    // distributed tick is already ~0.5 (most cells empty by chance).
    // 32 samples/cell puts stationary noise at ~0.1·√(nlist/64) —
    // well under the 0.35 default. Smaller ticks return None (signal
    // abstains; the error ratio still covers them).
    if (n < 32L * base.length) return None
    val p = new Array[Double](base.length)
    cells.foreach { case (c, m) =>
      if (c >= 0 && c < p.length) p(c) = m.toDouble / n
    }
    var tv = 0.0
    var i = 0
    while (i < base.length) { tv += math.abs(p(i) - base(i)); i += 1 }
    Some(tv / 2.0)
  }

  /** One DETERMINISTIC vector per neighbor id for the exact re-rank:
    * max over (ver, cvec) structs — the latest version wins, and an
    * equal-version duplicate (the same id twice in one batch) breaks
    * the tie by array ordering instead of the nondeterministic
    * `first()` this replaces. Input needs (neighbor_id, ver, cvec). */
  def latestVecs(stored: DataFrame): DataFrame =
    stored.select(col("neighbor_id"),
        struct(col("ver"), col("cvec")).as("__vc"))
      .groupBy("neighbor_id").agg(max(col("__vc")).as("__vc"))
      .select(col("neighbor_id"), col("__vc.cvec").as("cvec"))

  /** Sequential-double cosine, the exact arithmetic of
    * [[graft.functions.VectorExpressions.cosineFast]] (ascending-index
    * double dot, then `dot / (√Σa² · √Σb²)` with the query side as
    * `a`) — bit-identical scores keep the q101/q102 hash gates
    * closed. */
  def cosineSeq(q: Array[Float], c: Array[Float]): Double = {
    val n = q.length
    var dot = 0.0; var i = 0
    while (i < n) { dot += q(i).toDouble * c(i).toDouble; i += 1 }
    var qs = 0.0; i = 0
    while (i < n) { qs += q(i).toDouble * q(i).toDouble; i += 1 }
    var cs = 0.0; i = 0
    while (i < n) { cs += c(i).toDouble * c(i).toDouble; i += 1 }
    dot / (math.sqrt(qs) * math.sqrt(cs))
  }

  /** Small pruned scans under-parallelize: a compacted store's probed
    * partitions are a handful of sub-MB files, which the file source
    * packs into one or two tasks — and the candidate-scoring map stage
    * inherits that, running ~10⁸ pair scores on a single core while 31
    * sit idle (measured: the map-side-UDF IVF leg at nq = 10k sat at
    * 598 s wall on a 0.24-canary host). Repartition the PROJECTED
    * relation (tens of MB for vectors, single-digit MB for codes) up to
    * the session parallelism when the scan plans fewer than half that
    * many tasks; a corpus-scale store plans thousands of scan tasks and
    * passes through untouched. */
  def rebalance(df: DataFrame): DataFrame =
    rebalanceBy(df, df.rdd.getNumPartitions)

  /** [[rebalance]] with the partition count SUPPLIED by the caller —
    * taken from the bare pruned scan, before the read mask
    * (optimization round 18): `df.rdd.getNumPartitions` on a relation
    * with an exchange materializes it under AQE (a mask aggregation +
    * broadcast ran as a whole extra job per search, then re-ran in the
    * real query — exchange reuse does not span QueryExecutions). The
    * collected mask is a partition-preserving filter, so the scan's
    * count IS the masked relation's count on every bounded-delta
    * store; the one divergence (a
    * shuffle-join mask on TBs of never-compacted deltas) at worst adds
    * one redundant repartition of an already-parallel relation. */
  def rebalanceBy(df: DataFrame, have: Int): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (have * 2 < want) df.repartition(want)
    // the OVER-split side matters as much for the TopKMap fold: the
    // drained survivor volume is PARTITIONS × nq × cap, so a many-file
    // scan (measured: a 256-partition union of part-files drained
    // 410M survivor rows at nq = 50k, cap = 32 — 8× the useful volume)
    // multiplies the downstream exchange for zero scoring benefit.
    // coalesce is shuffle-free; scoring stays on `want` cores.
    else if (have > want * 2) df.coalesce(want)
    else df
  }

  /** Bounded per-query top-K accumulator for the scoring map stage —
    * array-backed, sorted best→worst under the search ordering
    * (score desc, neighbor asc), deduping by neighbor id WITHIN the
    * structure (duplicate candidates from multi-table/multi-probe hits
    * or re-indexed commits must not crowd a real neighbor out of the
    * local top-K). The hot path is two comparisons: a pair that cannot
    * qualify returns immediately — a duplicate of an already-kept
    * neighbor can only carry an equal-or-worse score, so skipping it
    * preserves max() semantics. */
  final class TopK(cap: Int) {
    private val nids = new Array[Long](cap)
    private val scs = new Array[Double](cap)
    private var n = 0
    // membership index for LARGE caps only (deep re-rank shortlists size
    // cap = max(rerank, k) into the tens of thousands, where the linear
    // dedup scan turns every qualifying insert into O(cap)); small caps
    // (serving k ≤ 64) keep the scan — it beats a hash probe at that
    // size and allocates nothing
    private val slotOf: java.util.HashMap[Long, Integer] =
      if (cap > 64) new java.util.HashMap[Long, Integer](cap * 2) else null
    private def beats(c1: Double, n1: Long, c2: Double, n2: Long): Boolean =
      c1 > c2 || (c1 == c2 && n1 < n2)
    private def swap(i: Int, j: Int): Unit = {
      val tn = nids(i); nids(i) = nids(j); nids(j) = tn
      val tc = scs(i); scs(i) = scs(j); scs(j) = tc
      if (slotOf != null) { slotOf.put(nids(i), i); slotOf.put(nids(j), j) }
    }
    private def bubbleUp(from: Int): Unit = {
      var j = from
      while (j > 0 && beats(scs(j), nids(j), scs(j - 1), nids(j - 1))) {
        swap(j, j - 1); j -= 1
      }
    }
    def insert(nid: Long, sc: Double): Unit = {
      if (n == cap && !beats(sc, nid, scs(n - 1), nids(n - 1))) return
      if (slotOf != null) {
        val s = slotOf.get(nid)
        if (s != null) {
          val i = s.intValue()
          if (sc > scs(i)) { scs(i) = sc; bubbleUp(i) }
          return
        }
      } else {
        var i = 0
        while (i < n) { // qualifier: dedup by neighbor id, keep the max
          if (nids(i) == nid) {
            if (sc > scs(i)) { scs(i) = sc; bubbleUp(i) }
            return
          }
          i += 1
        }
      }
      if (n < cap) {
        nids(n) = nid; scs(n) = sc
        if (slotOf != null) slotOf.put(nid, n)
        n += 1; bubbleUp(n - 1)
      } else {
        if (slotOf != null) { slotOf.remove(nids(n - 1)); slotOf.put(nid, n - 1) }
        nids(n - 1) = nid; scs(n - 1) = sc; bubbleUp(n - 1)
      }
    }
    def drain(qid: Long): Iterator[(Long, Long, Double)] =
      (0 until n).iterator.map(i => (qid, nids(i), scs(i)))
    /** Drain with the slot position as the 1-based rank: the structure
      * is maintained sorted under (score desc, neighbor asc) — exactly
      * the ranking-window ordering — so when a fold holds a query's
      * GLOBAL survivors the position IS `row_number()` and the caller
      * skips the window (and its exchange + sort) entirely. */
    def drainRanked(qid: Long): Iterator[(Long, Long, Int, Double)] =
      (0 until n).iterator.map(i => (qid, nids(i), i + 1, scs(i)))
  }

  /** Per-partition map of [[TopK]] accumulators — the map-side combine
    * the per-pair dedup + window CANNOT get from a hash aggregation
    * (with ~every pair distinct, partial aggregation combines nothing
    * and the 10⁸-group hash map spills: measured 130–630 s on pair
    * relations the scoring map produced in 6 s). Scoring loops insert
    * DIRECTLY — no per-pair tuple ever allocates (5×10⁸ short-lived
    * boxed triples per 50k-query leg were pure GC churn) — and drain
    * emits only the ≤ nq·cap survivors, a provable superset of each
    * query's global top-K (fewer than K distinct neighbors beat a true
    * top-K member in any partition, and TopK slots hold distinct
    * neighbors), so the tiny downstream dedup + window returns exactly
    * the old answer. */
  final class TopKMap(cap: Int) {
    // primitive open-addressing map (round 16): java.util.HashMap boxed
    // every long key probe — at 10^10 probes (flat-PQ batch scoring at
    // the 100k bound) that is 10^10 transient Longs of pure GC churn.
    // Power-of-2 capacity, byteswap64 mix, linear probing, no deletion.
    private var keys = new Array[Long](1 << 10)
    private var accs = new Array[TopK](1 << 10)
    private var mask = keys.length - 1
    private var n = 0
    private def slotOf(k: Long): Int = {
      var i = scala.util.hashing.byteswap64(k).toInt & mask
      while (accs(i) != null && keys(i) != k) i = (i + 1) & mask
      i
    }
    private def grow(): Unit = {
      val ok = keys; val oa = accs
      keys = new Array[Long](ok.length << 1)
      accs = new Array[TopK](ok.length << 1)
      mask = keys.length - 1
      var j = 0
      while (j < ok.length) {
        if (oa(j) != null) {
          val i = slotOf(ok(j)); keys(i) = ok(j); accs(i) = oa(j)
        }
        j += 1
      }
    }
    def insert(qid: Long, nid: Long, sc: Double): Unit =
      accFor(qid).insert(nid, sc)
    /** The query's accumulator — query-OUTER scoring loops hoist this
      * out of the row loop so the per-pair path is a bare TopK.insert
      * (no hash probe per pair). */
    def accFor(qid: Long): TopK = {
      var i = slotOf(qid)
      if (accs(i) == null) {
        if ((n + 1) * 4 > keys.length * 3) { grow(); i = slotOf(qid) }
        keys(i) = qid; accs(i) = new TopK(cap); n += 1
      }
      accs(i)
    }
    def drain(): Iterator[(Long, Long, Double)] =
      keys.indices.iterator.filter(accs(_) != null)
        .flatMap(i => accs(i).drain(keys(i)))
    /** See [[TopK.drainRanked]] — valid once each query's rows are all
      * in THIS fold's partition (post `repartition(query_id)`). */
    def drainRanked(): Iterator[(Long, Long, Int, Double)] =
      keys.indices.iterator.filter(accs(_) != null)
        .flatMap(i => accs(i).drainRanked(keys(i)))
  }

  /** The post-scoring tail every top-K tier shares (round 17 — hoisted
    * from near-verbatim copies in the four searchStores and the batch
    * tiers' rankTopK): hash-partition the scoring partitions' survivors
    * by query (≤ partitions·nq·cap rows of 24 bytes — at nq = 100k,
    * cap = 32, 32 scoring partitions that is ~10⁸ rows, where a
    * groupBy-max + window re-created the very sort the scoring fold
    * removed; thread-dump evidence in BENCH_NOTES round 15) and fold
    * once more. After this second-level fold each query's [[TopK]]
    * holds its GLOBAL top-cap in drain order — (score desc, neighbor
    * asc), the exact ranking-window ordering, with duplicate
    * (query, neighbor) versions deduped max() like the groupBy it
    * replaces — so the rank IS the drain position
    * ([[TopK.drainRanked]]) and the bounded window the round-16 shape
    * still paid (a SECOND exchange of the folded survivors plus a
    * TimSort: mapPartitions hides the fold's partitioning from the
    * planner, so the window could not reuse it) is deleted outright —
    * ONE exchange end-to-end after scoring (optimization round 17).
    * Input columns must be (query_id LONG, neighbor_id LONG,
    * score DOUBLE); returns (query_id, neighbor_id, rank, scoreName)
    * with rank ≤ cap. */
  def rankSurvivors(scored: DataFrame, cap: Int, scoreName: String): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.repartition(col("query_id"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val acc = new TopKMap(cap)
        it.foreach { case (q, nid, s) => acc.insert(q, nid, s) }
        acc.drainRanked()
      }.toDF("query_id", "neighbor_id", "rank", scoreName)
  }

  /** The whole scoring tail: one typed mapPartitions pass folding a
    * [[TopKMap]] (the caller's closure does the arithmetic — only
    * ≤ nq·cap survivor triples per partition ever reach the exchange),
    * then [[rankSurvivors]]. The four store searches and the batch
    * tiers differ ONLY in the scoring closure and the projection they
    * feed in; everything exchange-bound lives here, once. */
  def scoreAndRank[T](
      scan: org.apache.spark.sql.Dataset[T], cap: Int, scoreName: String)(
      fold: (Iterator[T], TopKMap) => Unit): DataFrame = {
    val spark = scan.sparkSession
    import spark.implicits._
    val scored = scan.mapPartitions { it =>
      val acc = new TopKMap(cap)
      fold(it, acc)
      acc.drain()
    }.toDF("query_id", "neighbor_id", scoreName)
    rankSurvivors(scored, cap, scoreName)
  }

  /** STORE-AS-CORPUS read (round 17): the store's LIVE vectors as a
    * plain (neighbor_id, cvec) relation — exactly one deterministic
    * row per live id, after the one read mask ([[deltaMasked]]) and
    * the [[latestVecs]] election (which also collapses an LSH
    * id's per-table rows). This is the read surface a downstream
    * batch job consumes (recluster the serving corpus, join store
    * contents against fresh metadata, export for training) without
    * going through search. Cost: one full-store scan of (id, ver,
    * cvec) — column-pruned, all partitions — plus the delta-bounded
    * mask; on a freshly-compacted store the mask is free and the
    * election is a single hash aggregation. */
  def liveVectors(
      spark: SparkSession, storeDir: String, subdir: String,
      schema: StructType, multiRowPerId: Boolean = true): DataFrame = {
    val dir = new Path(storeDir)
    val f = fs(spark, dir)
    val parts = storePartsOf(f, dir)
    // ONE commit-set resolution feeds the scan, the read mask, and
    // the fast-path decision — they must all observe the same
    // generation (round-18 ADVICE: a fold landing between two separate
    // manifest reads could flip the fast path on while the scan still
    // holds a delta snapshot with per-id duplicates)
    val root = new Path(s"$storeDir/$subdir")
    val commits = visibleCommits(f, root)
    val all = readStoreFrom(spark, commits, schema,
      excludeTag = " none ", partCol = "ab",
      wanted = (0 until parts).toSet)
    val masked = deltaMasked(all, spark, storeDir, "neighbor_id", commits)
    // freshly-compacted fast path (optimization round 17): when every
    // visible commit is a fold target WRITTEN BY [[electLatestOne]]
    // (the in-dir one-row marker — a pre-round-17 electLatest fold
    // keeps equal-version duplicates and never qualifies), the fold
    // already elected exactly one row per live id for the single-row
    // families, so the election here is the identity — skip the
    // full-corpus hash aggregation (which moves every vector through
    // an exchange) and return the masked projection directly. The
    // multi-table LSH store always elects (it collapses per-table
    // rows); a store with delta commits always elects.
    if (!multiRowPerId && compactedOnly(f, commits))
      masked.select(col("neighbor_id"), col("cvec"))
    else latestVecs(masked)
  }

  /** TRUE when every commit of the ADOPTED set is a fold target
    * carrying the one-row-per-id marker ([[foldAndSwap]] with
    * `oneRowPerId = true` — i.e. written by [[electLatestOne]]): then
    * read-path elections are the identity and can be skipped
    * (liveVectors, the fused tiers' exact re-rank). Takes the SAME
    * commit set the caller's scan resolved, never a fresh manifest
    * read (round-18 ADVICE — see [[liveVectors]]). Bounded FS
    * existence checks (one per visible fold target, normally one). */
  def compactedOnly(
      f: FileSystem,
      commits: Seq[FileStatus]): Boolean =
    commits.nonEmpty && commits.forall(s =>
      isFoldTarget(s.getPath.getName) &&
        f.exists(new Path(s.getPath, OneRowMarker)))

  /** The fused tiers' exact re-rank, shared by the IVF-PQ and IVF-SQ
    * stores: join the approximate shortlist to one deterministic
    * vector per candidate ([[latestVecs]]), score exact cosine against
    * the query's vector with [[cosineSeq]] (the cosine expression's
    * arithmetic), rank. `vecs` must be (neighbor_id, cvec) with one row
    * per id; `queries` is the search's already-collected bounded query
    * side, shipped as a broadcast variable (a join against it as a
    * local relation would run one more job to broadcast it). */
  def exactRerank(
      shortlist: DataFrame, vecs: DataFrame, queries: Array[(Long, Array[Float])],
      k: Int): DataFrame = {
    val spark = shortlist.sparkSession
    import spark.implicits._
    val qBc = spark.sparkContext.broadcast(queries.toMap)
    // one deterministic row per (query, neighbor) by construction
    // (shortlist keyed by the pair; vecs one row per id), so the shared
    // fold-ranked tail is the exact window it replaces — one exchange,
    // no sort (optimization round 17)
    val exact = shortlist.join(vecs, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cvec"))
      .as[(Long, Long, Array[Float])]
      .map { case (q, nid, cvec) => (q, nid, cosineSeq(qBc.value(q), cvec)) }
      .toDF("query_id", "neighbor_id", "cos")
    rankSurvivors(exact, k, "cos")
  }

  // ======== tombstone deletes (round 16) ========

  private val tombSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Upsert-shaped DELETE for the commit stores: `ids` land as a
    * tombstone commit under `<storeDir>/<subdir>/batch=<tag>`
    * (single-column distinct longs, one file, manifest-gated like
    * every commit). Reads filter tombstoned ids out
    * ([[deltaMasked]]); the next compaction physically drops
    * their rows and then RETIRES the applied tombstones
    * ([[retireTombstones]]), after which the store equals one built
    * from the survivors — the takedown path a 100 TB serving corpus
    * needs without a full rebuild.
    *
    * CONTRACT: a tombstone masks the id until that compaction — an id
    * re-upserted BETWEEN delete and compaction stays masked (delete
    * wins within a store generation); after the compaction the id
    * inserts fresh. Deletes are writer operations: serialize them with
    * upserts and compaction (the stores' standing SINGLE-WRITER
    * contract). Returns the distinct id count committed. */
  def tombstoneStep(
      ids: DataFrame, storeDir: String, idColName: String,
      batchTag: String = java.util.UUID.randomUUID().toString,
      subdir: String = "tombstones"): Long = {
    val spark = ids.sparkSession
    val root = new Path(s"$storeDir/$subdir")
    ensureManifestClaimed(spark, root)
    val commitDir = s"$storeDir/$subdir/batch=$batchTag"
    // ONE job: the distinct-id count rides the write as an observed
    // metric, and the ids coalesce to one partition BEFORE the distinct,
    // whose aggregate then needs no exchange (the commit is one file
    // either way)
    val obs = org.apache.spark.sql.Observation()
    ids.select(col(idColName).cast("long").as("id"))
      .filter(col("id").isNotNull).coalesce(1).distinct()
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(commitDir)
    publishCommit(spark, root, s"batch=$batchTag")
    obs.get("n").asInstanceOf[Long]
  }

  /** Names of the visible tombstone commits — captured BEFORE a
    * compaction so [[retireTombstones]] retires exactly the set the
    * fold applied. */
  def tombstoneCommits(
      spark: SparkSession, storeDir: String,
      subdir: String = "tombstones"): Set[String] = {
    val root = new Path(s"$storeDir/$subdir")
    val f = fs(spark, root)
    if (!f.exists(root)) Set.empty
    else namesOf(visibleCommits(f, root))
  }

  /** Retire APPLIED tombstone commits after a compaction's manifest
    * swap: their names extend `_FOLDED` (a replayed delete tag cannot
    * resurrect), the manifest drops them, and the dirs are deleted. A
    * crash between the main swap and this step leaves already-dropped
    * rows plus standing tombstones — which re-filter to the same
    * answer until the next compaction retires them (idempotent). */
  def retireTombstones(
      spark: SparkSession, storeDir: String, applied: Set[String],
      subdir: String = "tombstones",
      gcGraceMs: Long = defaultGcGraceMs): Unit = {
    if (applied.isEmpty) return
    val root = new Path(s"$storeDir/$subdir")
    val f = fs(spark, root)
    if (!f.exists(root)) return
    writeTextFile(spark, root, "_FOLDED", lines(readFolded(f, root) ++ applied))
    // stamp the applied dirs into the grace ledger BEFORE the manifest
    // rewrite (round-18 ADVICE): ordering alone must guarantee a crash
    // can only EXTEND a retired tombstone's grace, never skip it — a
    // dir that is already unlisted but neither stamped nor in _FOLDED
    // would classify as a never-visible stray and delete immediately,
    // reopening the straddling-reader race the window exists to close.
    // (The _FOLDED write above already protects this path; the
    // pre-stamp makes the guarantee independent of that coupling.)
    val now = System.currentTimeMillis()
    writeRetired(spark, root, readRetired(f, root) ++ applied.map(_ -> now))
    writeManifest(spark, root, namesOf(visibleCommits(f, root)) -- applied)
    // physical deletion deferred by the grace window — an in-flight
    // reader's mask (or a distributed one, built lazily) may still open
    // these files; the mask it applies is against the generation it is
    // reading, so the answer is unchanged
    gcUnlisted(spark, root, gcGraceMs, stampNow = applied)
  }

  /** THE fold: every compaction of every store — the vector stores'
    * identity fold and refit, the seven dedup sub-stores, the labels'
    * byId/byComp pair — is one call. Per call, once:
    *   - ADOPTION: each target root's commits as the manifest lists
    *     them; a root no manifest claims yet adopts only its
    *     [[adoptable]] dirs, claimed before anything is written (with
    *     `claimFirst`, before the fold decision), so every target dir
    *     is born invisible and a crash at any later point cannot double
    *     history;
    *   - the caller's `fold` over the adopted commits: None, nothing to
    *     fold; else each target's rows (carrying its partition column),
    *     the target dir name, and an optional staged
    *     `(pendingMarkerName, text)`;
    *   - the INVISIBLE target writes, hash-partitioned by the target's
    *     partition column and sorted by its sort columns, the in-dir
    *     one-row marker, the pending marker;
    *   - per root, the `_FOLDED` resurrection guard (sources are still
    *     the visible set, so it has no reader-facing effect yet), then
    *     the atomic manifest swap — THE commit point of that root;
    *   - `afterSwap` (finish a pending promotion, retire tombstones);
    *   - GC with a TIME-BASED GRACE PERIOD ([[gcUnlisted]]) of every
    *     root and its sibling `tombstones` root: replaced commits stay
    *     on disk until `gcGraceMs` has elapsed, so an in-flight reader
    *     whose leaf list was captured against a prior manifest finishes
    *     its lazy read even when several folds complete under it;
    *     never-visible strays are deleted immediately.
    * SINGLE-WRITER contract: run between writes.
    *
    * @param targets      (sub-store dir under `storeDir`, partition
    *                     column, sort columns) per root. The first root
    *                     is the authority: without it there is nothing
    *                     to fold, and a missing later root is claimed
    *                     empty (so a fold rebuilds it)
    * @param claimFirst   false: a root is claimed only by a fold — a
    *                     never-compacted dedup sub-store stays
    *                     manifest-less, so its ticks rewrite no manifest
    * @param stampReplaced ledger-stamp the commits this call replaced, so
    *                     its own GC keeps them even at grace 0 (the
    *                     vector stores keep one generation); false: at
    *                     grace 0 they go in this call (they are in
    *                     `_FOLDED`, so any positive grace stamps them)
    * @param oneRowPerId  the caller's rows hold exactly one row per live
    *                     id ([[electLatestOne]]) — stamps the in-dir
    *                     marker the compacted fast paths
    *                     ([[compactedOnly]]) require */
  def foldAndSwap(
      spark: SparkSession, storeDir: String,
      targets: Seq[(String, String, Seq[String])],
      fold: Seq[Seq[FileStatus]] => Option[(Seq[DataFrame], String, Option[(String, String)])],
      afterSwap: () => Unit = () => (),
      gcGraceMs: Long = defaultGcGraceMs,
      claimFirst: Boolean = true,
      stampReplaced: Boolean = true,
      oneRowPerId: Boolean = false): Unit = {
    val dir = new Path(storeDir)
    val roots = targets.map(t => new Path(dir, t._1))
    val f = fs(spark, dir)
    if (!f.exists(roots.head)) return
    // (claimed, adopted commits) per root
    val adopted = roots.map { root =>
      if (claimFirst) ensureManifestClaimed(spark, root)
      if (claimFirst || f.exists(new Path(root, "_MANIFEST"))) (true, visibleCommits(f, root))
      else (false, adoptable(f, root))
    }
    val replaced = fold(adopted.map(_._2)) match {
      case None => roots.map(_ => Set.empty[String])
      case Some((rows, target, pending)) =>
        roots.zip(adopted).foreach { case (root, (claimed, commits)) =>
          if (!claimed) writeManifest(spark, root, namesOf(commits))
        }
        targets.zip(rows).foreach { case ((sub, partCol, sortCols), r) =>
          val byPart = r.repartition(col(partCol))
          (if (sortCols.isEmpty) byPart else byPart.sortWithinPartitions(sortCols.map(col): _*))
            .write.partitionBy(partCol)
            .mode("overwrite").parquet(s"$storeDir/$sub/$target")
          // one-row-per-id marker INSIDE the target dir, before the swap:
          // the fast paths ([[compactedOnly]]) trust the guarantee only
          // for folds that carry it (underscore-prefixed → invisible to
          // the parquet reader and the leaf enumeration)
          if (oneRowPerId)
            writeTextFile(spark, new Path(s"$storeDir/$sub/$target"), OneRowMarker, "1")
        }
        pending.foreach { case (name, text) => writeTextFile(spark, dir, name, text) }
        roots.zip(adopted).foreach { case (root, (_, commits)) =>
          writeTextFile(spark, root, "_FOLDED", lines(readFolded(f, root) ++ namesOf(commits)))
          writeManifest(spark, root, Set(target)) // THE commit point
        }
        afterSwap()
        adopted.map(a => namesOf(a._2))
    }
    roots.zip(replaced).foreach { case (root, names) =>
      gcUnlisted(spark, root, gcGraceMs, stampNow = if (stampReplaced) names else Set.empty)
    }
    // opportunistic sweep of the targets' sibling tombstones roots
    // (`tombstones`, `labels/tombstones`) so retired tombstone dirs age
    // out even when no further deletes ever happen
    (dir +: roots.map(_.getParent)).distinct.map(new Path(_, "tombstones"))
      .filter(f.exists).foreach(gcUnlisted(spark, _, gcGraceMs, Set.empty))
  }
}

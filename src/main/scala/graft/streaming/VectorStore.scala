package graft.streaming

import graft.ops.SimilaritySearch
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** A vector store's pinned model, exactly as its marker file holds it: a
  * header `config[/target]` (`target` names the re-encoded commit on the
  * `<marker>.pending` form a refit stages), one line per model row —
  * `label v1,v2,…`, or `v1,v2,…` unlabeled — in file order (stored codes
  * index into that order, so the order is load-bearing), then the
  * optional drift anchors `baseline x` and `occupancy p1,p2,…`.
  * Double.toString/parseDouble round-trip exactly, so a reloaded model
  * assigns, encodes and scores bit-identically. */
private[streaming] final case class Marker(
    config: Seq[Long], target: Option[String] = None,
    rows: Seq[(String, Array[Double])] = Nil,
    baseline: Option[Double] = None, occ: Option[Array[Double]] = None) {
  def render: String =
    (((config.mkString("/") + target.fold("")("/" + _)) +:
      rows.map { case (l, v) => (if (l.isEmpty) "" else l + " ") + v.mkString(",") }) ++
      baseline.map(b => s"baseline $b") ++
      occ.map(o => "occupancy " + o.mkString(","))).mkString("\n")

  /** The model rows labeled `label`, in file order. */
  def rowsOf(label: String): Array[Array[Double]] =
    rows.collect { case (l, v) if l == label => v }.toArray
}

private[streaming] object Marker {
  /** Parse a marker whose header carries `arity` config fields. */
  def parse(text: String, arity: Int): Marker = {
    val lines = text.split('\n').map(_.trim).filter(_.nonEmpty)
    val head = lines.head.split('/')
    def nums(s: String) = s.split(',').map(java.lang.Double.parseDouble)
    def tagged(p: String) = lines.tail.find(_.startsWith(p)).map(_.stripPrefix(p))
    Marker(head.take(arity).map(_.toLong).toSeq, head.lift(arity),
      lines.tail.filterNot(s => s.startsWith("baseline ") || s.startsWith("occupancy "))
        .map { s =>
          val i = s.indexOf(' ')
          if (i < 0) ("", nums(s)) else (s.take(i), nums(s.drop(i + 1)))
        }.toSeq,
      tagged("baseline ").map(java.lang.Double.parseDouble), tagged("occupancy ").map(nums))
  }
}

/** One search's query side under one pinned model: the partition keys
  * it opens, and its scorer `(projected scan, cap) → (query_id,
  * neighbor_id, rank, score)` with rank ≤ cap. */
private[streaming] final case class Probe(keys: Set[Long], score: (DataFrame, Int) => DataFrame)

/** What one store kind supplies to the shared [[VectorStore]] lifecycle:
  * its on-disk names, schema and marker config, its fit and encode, its
  * probe and scorer, and its drift and re-rank policy.
  *
  * @param codeCols     stored columns between `neighbor_id` and `cvec`
  * @param keyCols      the partition key columns — also the fold's sort
  *                     order and the upsert monitor's grouping
  * @param driftName    the monitor's per-cell drift column (None: the
  *                     store has no drift signal and never refits)
  * @param oneRowPerId  one row per id (electLatestOne folds, compacted
  *                     fast paths); false for LSH's one row per table
  * @param exactRerank  score a shortlist, then re-rank it by exact cosine */
private[streaming] abstract class VectorCodec(
    val subdir: String, val marker: String, val kind: String, val configNames: String,
    codeCols: Seq[StructField], val keyCols: Seq[String], val driftName: Option[String],
    val oneRowPerId: Boolean, val exactRerank: Boolean) extends Serializable {

  val schema: StructType = StructType(
    (StructField("neighbor_id", LongType, nullable = false) +: codeCols) ++ Seq(
      StructField("cvec", ArrayType(FloatType, containsNull = true), nullable = true),
      StructField("ver", LongType, nullable = false)))

  /** A row's long partition key; its `ab` partition is the key's
    * xxhash64 mod the store's parts, on writer and searcher alike. */
  def key: Column = keyCols.map(col(_).cast("long")).reduce(_ * lit(1L << 32) + _)

  def parse(text: String): Marker = Marker.parse(text, configNames.split('/').length)

  /** The model of a store pinned from config alone; None: fit it from
    * the first non-empty batch. */
  def fromConfig(cfg: Seq[Long]): Option[Marker] = None

  /** Fit a model on `(neighbor_id, cvec)` rows (first contact, refit). */
  def fit(rows: DataFrame, cfg: Seq[Long]): Marker

  /** `(neighbor_id, cvec, ver)` rows → stored rows under `m`. */
  def encode(rows: DataFrame, m: Marker): DataFrame

  /** Stored rows per vector — the L0 bound counts rows. */
  def rowsPerVector(m: Marker): Int = 1

  /** A stored row's drift value under `m`, averaged per cell by the
    * upsert monitor (read only when `driftName` is defined). */
  def drift(spark: SparkSession, m: Marker): Column

  def probe(m: Marker, qs: Array[(Long, Array[Float])], nprobe: Int,
      touches: Option[LongAccumulator]): Probe

  /** The projection the scorer reads. */
  def scoreCols: Seq[Column] = Seq(col("neighbor_id"), key, col("cvec"))

  /** KEY-INDEXED map-side cosine scoring (the LSH and IVF scorer): a
    * broadcast Map[key → probing queries], each query's vector shared by
    * reference across its probes, feeds one mapPartitions pass that
    * deserializes each stored vector ONCE and scores it against only its
    * own key's queries ([[StoreCommits.cosineSeq]], bit-identical to the
    * Dedup.cosine expression); only bounded survivor triples cross the
    * exchange ([[StoreCommits.scoreAndRank]]). Multi-table and
    * multi-probe duplicates dedup inside the bounded per-query top-k. */
  protected def cosineProbe(
      qs: Array[(Long, Array[Float])], probes: Array[(Long, Long)]): Probe = {
    val vecOf = qs.toMap
    val byKey = probes.groupBy(_._2).map { case (k, ps) =>
      k -> ps.map { case (q, _) => (q, vecOf(q)) }
    }
    Probe(byKey.keySet, { (scan, cap) =>
      val spark = scan.sparkSession
      import spark.implicits._
      val qBc = spark.sparkContext.broadcast(byKey)
      StoreCommits.scoreAndRank(scan.as[(Long, Long, Array[Float])], cap, "cos") { (it, acc) =>
        val qc = qBc.value
        val none = Array.empty[(Long, Array[Float])]
        it.foreach { case (nid, k, cvec) =>
          val entries = qc.getOrElse(k, none)
          var i = 0
          while (i < entries.length) {
            val qid = entries(i)._1
            if (qid != nid) acc.insert(qid, nid, StoreCommits.cosineSeq(entries(i)._2, cvec))
            i += 1
          }
        }
      }
    })
  }
}

private[streaming] object VectorCodec {
  val cell: StructField = StructField("cell", IntegerType, nullable = false)

  def unitOf(v: Seq[Float]): Array[Double] = {
    var s = 0.0
    v.foreach(x => s += x.toDouble * x)
    val inv = if (s == 0) 0.0 else 1.0 / math.sqrt(s)
    Array.tabulate(v.length)(i => v(i) * inv)
  }

  /** Index of `v`'s nearest row of `cs` (the first on ties). */
  def nearest(cs: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bd = Double.MaxValue; var ci = 0
    while (ci < cs.length) {
      var d = 0.0; var t = 0
      while (t < v.length) { val df = v(t) - cs(ci)(t); d += df * df; t += 1 }
      if (d < bd) { bd = d; best = ci }
      ci += 1
    }
    best
  }

  /** The deterministic bounded fit sample (the [[SimilaritySearch]]
    * idiom: smallest-xxhash64 order, partitioning-independent). */
  def sampleOf(rows: DataFrame): Array[Seq[Float]] =
    rows.orderBy(xxhash64(col("neighbor_id")).asc, col("neighbor_id").asc)
      .limit(20000).select("cvec").collect().map(_.getSeq[Float](0))

  /** k-means the sample into cells: the centroids, each sample vector's
    * residual from its nearest centroid, and the fit-time cell occupancy
    * (the anchor of the occupancy-drift signal, [[StoreCommits.occupancyTv]]). */
  def fitCells(sample: Array[Array[Double]], nlist: Int, iters: Int, seed: Long)
      : (Array[Array[Double]], Array[Array[Double]], Array[Double]) = {
    val cs = SimilaritySearch.localKMeans(sample, nlist, iters, seed)
    val counts = new Array[Long](cs.length)
    val residuals = sample.map { v =>
      val ci = nearest(cs, v)
      counts(ci) += 1
      Array.tabulate(v.length)(t => v(t) - cs(ci)(t))
    }
    (cs, residuals, counts.map(_.toDouble / sample.length))
  }
}

/** The ONE lifecycle of the four durable ANN stores ([[AnnStream]],
  * [[IvfStream]], [[IvfSqStream]], [[IvfPqStream]]) over the
  * [[StoreCommits]] plumbing; each store is a thin public object over
  * this class and its [[VectorCodec]]. The contracts:
  *   - tag-keyed overwrite commits (foreachBatch replay is idempotent),
  *     manifest-gated visibility from the FIRST commit, `_PARTS`
  *     partition pinning, `_MANIFEST`/`_FOLDED` crash-safe compaction
  *     with time-based GC grace, single writer / readers any time;
  *   - LATEST-WINS upserts: every commit carries a monotonic version,
  *     search masks superseded rows GLOBALLY before scoring, compaction
  *     keeps each id's latest version only;
  *   - tombstone deletes mask until the next compaction drops them;
  *   - the marker pins the model; a refit stages `<marker>.pending`
  *     naming its re-encoded commit, and the manifest swap is the commit
  *     point ([[StoreCommits.effectivePinned]] heals either crash
  *     window). Every marker read goes through that resolution. */
private[streaming] abstract class VectorStore(c: VectorCodec) {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def abCol(parts: Long): Column = pmod(xxhash64(c.key), lit(parts)).cast("int")

  /** The EFFECTIVE pinned model of the store's visible state. */
  protected def effective(spark: SparkSession, storeDir: String, promote: Boolean): Option[Marker] =
    StoreCommits.effectivePinned[Marker](spark, storeDir, c.subdir, c.marker,
      c.parse, _.render, _.target, _.copy(target = None), promote)

  protected def pinned(spark: SparkSession, storeDir: String, promote: Boolean = false): Marker =
    effective(spark, storeDir, promote).getOrElse(throw new IllegalArgumentException(
      s"not an ${c.kind} store (no ${c.marker} marker): $storeDir"))

  /** Fold one micro-batch of `(idCol, vecCol)` rows into the store. The
    * first non-empty upsert of a fitted kind fits the model from the
    * batch's bounded deterministic sample and pins it; every later
    * upsert encodes under the pinned model. An EMPTY batch publishes
    * nothing (and pins nothing) and returns an empty monitor. Returns
    * the written commit's per-key `members` plus, for a drifting kind,
    * the per-cell mean drift value — the monitor
    * [[RefitStore.maybeRefitOnDrift]] reads. */
  protected def upsert(
      batch: DataFrame, storeDir: String, cfg: Seq[Long], batchTag: String,
      storeParts: Int, l0Bound: Int, idCol: String, vecCol: String): DataFrame = {
    val spark = batch.sparkSession
    StoreCommits.ensureStoreMeta(spark, storeDir, storeParts, StoreCommits.NoKeyFamily)
    val root = new Path(s"$storeDir/${c.subdir}")
    StoreCommits.ensureManifestClaimed(spark, root)
    val commitDir = s"$storeDir/${c.subdir}/batch=$batchTag"
    // burned before the commit is visible (StoreCommits.nextVersion)
    val ver = StoreCommits.nextVersion(spark, storeDir)
    val stored = effective(spark, storeDir, promote = true)
    stored.foreach(m => require(m.config == cfg,
      s"${c.kind} store $storeDir was pinned with ${c.configNames}=" +
        s"${m.config.mkString("/")}; this config is ${cfg.mkString("/")} — " +
        "rebuild the store or match the writing config"))
    val src = batch.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("cvec"))
    def hashed(rows: DataFrame): Unit =
      rows.withColumn("ab", abCol(storeParts)).repartition(col("ab"))
        .write.partitionBy("ab").mode("overwrite").parquet(commitDir)
    val wrote: Option[Marker] = stored.orElse(c.fromConfig(cfg)) match {
      case Some(m) =>
        // the steady tick path: ONE source scan and ONE job. The batch
        // count rides the write as an observed metric and routes, after
        // the write, the rare bulk re-layout (L0 commits are written at
        // the source's parallelism; a bulk batch is re-laid out from the
        // commit's own files) and the empty-batch bail
        val obs = org.apache.spark.sql.Observation()
        val keyed = c.encode(
          src.observe(obs, count(lit(1)).as("n")).withColumn("ver", lit(ver)), m)
        val bound = l0Bound / c.rowsPerVector(m)
        if (bound <= 0) hashed(keyed) else keyed.write.mode("overwrite").parquet(commitDir)
        val n = obs.get("n").asInstanceOf[Long]
        if (n == 0L) { fs(spark, root).delete(new Path(commitDir), true); None }
        else {
          if (bound > 0 && n > bound)
            StoreCommits.relayout(spark, commitDir, c.schema, _.withColumn("ab", abCol(storeParts)))
          if (stored.isEmpty)
            StoreCommits.writeTextFile(spark, new Path(storeDir), c.marker, m.render)
          Some(m)
        }
      case None =>
        // FIRST CONTACT: the fit needs the batch twice (sample + encode),
        // so this one-time path keeps the persist + count pass
        val b = src.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val n = b.count()
          if (n == 0L) None
          else {
            val m = c.fit(b, cfg)
            StoreCommits.writeTextFile(spark, new Path(storeDir), c.marker, m.render)
            val keyed = c.encode(b.withColumn("ver", lit(ver)), m)
            if (n <= l0Bound / c.rowsPerVector(m))
              keyed.coalesce(1).write.mode("overwrite").parquet(commitDir)
            else hashed(keyed)
            Some(m)
          }
        } finally { b.unpersist(blocking = false); () }
    }
    // the monitor reads back the just-written commit (on-disk rows, so
    // the lazy consumer never re-touches the batch); schema supplied, so
    // no listing + footer job re-learns it
    def monitor(rows: DataFrame, err: => Column): DataFrame =
      rows.groupBy(c.keyCols.map(col): _*).agg(count(lit(1)).as("members"),
        c.driftName.toSeq.map(avg(err).as(_)): _*)
    wrote.fold(monitor(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], c.schema),
        lit(0.0))) { m =>
      StoreCommits.publishCommit(spark, root, s"batch=$batchTag")
      monitor(spark.read.schema(c.schema).parquet(commitDir), c.drift(spark, m))
    }
  }

  /** Fold the visible commits (both layouts) into one hash-partitioned
    * commit, sorted by the key so probes skip row groups, keeping each
    * id's latest version and dropping tombstoned ids (whose tombstones
    * then retire). With `refit`, the drift remediation: refit the model
    * on a bounded sample of the survivors, re-encode every vector, and
    * swap both via the two-phase `.pending` promote — the reassigned
    * data lands invisible, the new model is staged as `<marker>.pending`
    * naming it, the manifest swap is the commit point, and the promote
    * finishes after it (or in any later reader-writer after a crash).
    * SINGLE-WRITER contract: run between upserts. */
  protected def compact(
      spark: SparkSession, storeDir: String, refit: Boolean, gcGraceMs: Long): Unit = {
    // the applied tombstone set is captured BEFORE the fold so the
    // retirement retires exactly what the filter read; pending deletes
    // (and a refit) force a fold even on a single-commit store
    val applied = StoreCommits.tombstoneCommits(spark, storeDir)
    val force = refit || applied.nonEmpty
    val elect =
      if (c.oneRowPerId) StoreCommits.electLatestOne _ else StoreCommits.electLatest _
    StoreCommits.foldAndSwap(spark, storeDir, Seq((c.subdir, "ab", c.keyCols)), { case Seq(visible) =>
      if (visible.size < 2 && !(force && visible.nonEmpty)) None
      else {
        val dir = new Path(storeDir)
        val parts = StoreCommits.storePartsOf(fs(spark, dir), dir)
        val all = elect(StoreCommits.deltaMasked(
          StoreCommits.readStoreFrom(spark, visible, c.schema, excludeTag = " none ",
            partCol = "ab", wanted = _ => true),
          spark, storeDir, "neighbor_id"), "neighbor_id")
        // promote a crashed refit's pending BEFORE this fold replaces its target
        val m = pinned(spark, storeDir, promote = true)
        val (rows, target, pending) = if (refit) {
          val m2 = c.fit(all, m.config)
          val target = s"batch=refit-${java.util.UUID.randomUUID()}"
          // versions ride through: the re-encoded rows are all
          // latest-per-id, and later deltas outversion them via `_SEQ`
          (c.encode(all, m2), target,
            Some(s"${c.marker}.pending" -> m2.copy(target = Some(target)).render))
        } else (all, s"batch=compact-${java.util.UUID.randomUUID()}", None)
        Some((Seq(rows.withColumn("ab", abCol(parts))), target, pending))
      }
    }, afterSwap = () => {
      effective(spark, storeDir, promote = true)
      StoreCommits.retireTombstones(spark, storeDir, applied, gcGraceMs = gcGraceMs)
    }, gcGraceMs = gcGraceMs, oneRowPerId = c.oneRowPerId)
  }

  /** Top-k cosine search of the accumulated store: the probe opens only
    * its keys' `ab=` partitions of each visible commit, tombstoned and
    * superseded rows never reach scoring, `candidateFilter` PRE-filters
    * the pruned scan (exact top-k over the qualifying subset — a filter
    * on a fixed shortlist silently loses recall), and an exact-re-rank
    * kind re-ranks its `max(rerank, k)` shortlist by exact cosine against
    * vectors from the same pruned partitions. Queries are the bounded
    * side: ONE bounded collect serves the `maxQueries` check, the probe
    * and the re-rank, so a nondeterministic query source cannot serve
    * the stages different rows. */
  protected def search(
      spark: SparkSession, storeDir: String, queries: DataFrame, k: Int,
      nprobe: Int, rerank: Int, maxQueries: Int, idCol: String, vecCol: String,
      touches: Option[LongAccumulator], candidateFilter: Option[Column]): DataFrame = {
    val dir = new Path(storeDir)
    val f = fs(spark, dir)
    // the model comes from the STORE's marker, resolved through the
    // pending-aware, vanishing-marker-tolerant read (a refit promotion's
    // delete-then-rename briefly hides the marker)
    var m = pinned(spark, storeDir)
    val parts = StoreCommits.storePartsOf(f, dir)
    val qRows = queries.select(col(idCol).cast("long"), col(vecCol))
      .limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"searchStore got more than $maxQueries query rows — the query side " +
        "must stay the bounded side; swap sides or raise maxQueries deliberately")
    val qs = qRows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // CONSISTENT SNAPSHOT bracket: the model and the commit list are two
    // files, and a refit swapping between the two reads would prune
    // new-assignment rows with the old model. The leaf listing is eager,
    // so re-reading the model AFTER it and retrying on change pins both
    // to one generation. ONE commit-set resolution feeds the scan, the
    // read mask and the compacted fast path.
    var probe: Probe = null
    var commits: Seq[org.apache.hadoop.fs.FileStatus] = Nil
    var scan: DataFrame = null
    var attempt = 0
    var consistent = false
    while (!consistent) {
      probe = c.probe(m, qs, nprobe, touches)
      val wanted = probe.keys.map(key => math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(key, 42L), parts.toLong).toInt)
      commits = StoreCommits.visibleCommits(f, new Path(s"$storeDir/${c.subdir}"))
      scan = StoreCommits.readStoreFrom(spark, commits, c.schema,
        excludeTag = " none ", partCol = "ab", wanted = wanted, f0 = f)
      val after = pinned(spark, storeDir)
      if (after.render == m.render) consistent = true
      else {
        m = after
        attempt += 1
        require(attempt < 8, s"${c.kind} store $storeDir model kept moving " +
          "during search planning — is a writer refitting in a loop?")
      }
    }
    // scan parallelism probed on the BARE scan, before the mask (no
    // exchange → no AQE stage materialization; StoreCommits.rebalanceBy)
    val scanParts = scan.rdd.getNumPartitions
    // ONE mask (supersedes + tombstones) for the scoring scan and the
    // re-rank's vectors alike, collected once per search
    val masked = StoreCommits.deltaMasked(scan, spark, storeDir, "neighbor_id", commits)
    val stored = candidateFilter.fold(masked)(masked.filter)
    val ranked = probe.score(
      StoreCommits.rebalanceBy(stored.select(c.scoreCols: _*), scanParts), math.max(rerank, k))
    if (!c.exactRerank) ranked
    else {
      // one DETERMINISTIC latest vector per id; a store of only
      // one-row-per-id folds (same adopted commit set) elects nothing
      val vecs =
        if (StoreCommits.compactedOnly(f, commits)) stored.select(col("neighbor_id"), col("cvec"))
        else StoreCommits.latestVecs(stored.select(col("neighbor_id"), col("ver"), col("cvec")))
      StoreCommits.exactRerank(ranked.select("query_id", "neighbor_id"), vecs, qs, k)
    }
  }

  /** The streaming entry: vector parquet files land in `vecsPath`, each
    * micro-batch runs `tick` under a deterministic `queryId-batchId` tag
    * (replay-idempotent), and every `compactEvery` batches the commits
    * fold back into the partitioned layout. Searches run concurrently. */
  protected def stream(
      spark: SparkSession, vecsPath: String, vecsSchema: StructType, storeDir: String,
      checkpoint: String, trigger: Trigger, compactEvery: Int)(
      tick: (DataFrame, String) => Unit): StreamingQuery =
    spark.readStream.schema(vecsSchema).parquet(vecsPath)
      .writeStream
      .queryName(s"${c.kind.replace("-", "")}-maintenance")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val qid = Option(batch.sparkSession.sparkContext
          .getLocalProperty("sql.streaming.queryId")).getOrElse("q")
        tick(batch, s"$qid-$batchId")
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compact(spark, storeDir, refit = false, StoreCommits.defaultGcGraceMs)
        ()
      }
      .start()

  /** Upsert-shaped DELETE: tombstone `ids` out of the store — searches
    * stop returning them at once, the next compaction drops their rows
    * and retires the tombstones ([[StoreCommits.tombstoneStep]]; an id
    * re-upserted before that compaction stays masked). */
  def deleteStep(
      ids: DataFrame, storeDir: String,
      batchTag: String = java.util.UUID.randomUUID().toString,
      idCol: String = "vec_id"): Long =
    StoreCommits.tombstoneStep(ids, storeDir, idCol, batchTag)

  /** The store's live vectors as a corpus relation — see
    * [[StoreCommits.liveVectors]]. */
  def liveVectors(spark: SparkSession, storeDir: String): DataFrame =
    StoreCommits.liveVectors(spark, storeDir, c.subdir, c.schema,
      multiRowPerId = !c.oneRowPerId)
}

/** A [[VectorStore]] whose model is data-fit, so it drifts and refits. */
private[streaming] abstract class RefitStore(c: VectorCodec) extends VectorStore(c) {

  /** [[VectorStore.compact]]: fold, and with `refit = true` refit, re-encode and swap. */
  def compactStore(
      spark: SparkSession, storeDir: String, refit: Boolean = false,
      gcGraceMs: Long = StoreCommits.defaultGcGraceMs): Unit =
    compact(spark, storeDir, refit, gcGraceMs)

  /** Threshold-triggered drift remediation — the consumer of the upsert
    * monitor, a TWO-SIGNAL OR: the tick's member-weighted mean drift
    * value against `factor ×` the pinned fit-time baseline, or the
    * tick's cell-occupancy total variation against `occTvMax`
    * ([[StoreCommits.occupancyTv]] — it sees regime shifts that re-route
    * cell assignments while the error ratio stays in band). Fires
    * `compactStore(refit = true)` and returns true; no-ops on an empty
    * tick, with both signals disabled (≤ 0), or on a marker without
    * anchors. The refit re-pins the anchors, so a persistent shift fires
    * once; `cooldownCommits` bounds the rate while a shifted mixture
    * converges — every fold leaves one visible commit and every tick
    * publishes one, so the visible-commit count IS the tick distance
    * from the last fold (no extra state). */
  def maybeRefitOnDrift(
      spark: SparkSession, storeDir: String, monitor: DataFrame,
      factor: Double, cooldownCommits: Int = 8,
      occTvMax: Double = 0.35): Boolean = {
    if (factor <= 0 && occTvMax <= 0) return false
    // ONE bounded collect (nlist rows) feeds both signals
    val rows = monitor.select(col(c.keyCols.head), col("members"), col(c.driftName.get))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val n = rows.iterator.map(_._2).sum
    if (n == 0L) return false
    val m = effective(spark, storeDir, promote = false)
    val tickMean = rows.iterator.map(t => t._2 * t._3).sum / n
    val errDrifted = factor > 0 && m.flatMap(_.baseline).exists(b => tickMean > factor * b)
    val occDrifted = occTvMax > 0 && m.flatMap(_.occ).exists(o =>
      StoreCommits.occupancyTv(rows.map(t => (t._1, t._2)).toSeq, o).exists(_ > occTvMax))
    if (!errDrifted && !occDrifted) return false
    if (StoreCommits.visibleCommitCount(spark,
        s"$storeDir/${c.subdir}") < cooldownCommits) return false
    compactStore(spark, storeDir, refit = true)
    true
  }

  /** [[VectorStore.stream]] with the drift check after each upsert
    * (before the periodic fold, which then sees a single-commit store). */
  protected def refittingStream(
      spark: SparkSession, vecsPath: String, vecsSchema: StructType, storeDir: String,
      checkpoint: String, trigger: Trigger, compactEvery: Int,
      factor: Double, cooldownCommits: Int, occTvMax: Double)(
      upsertTick: (DataFrame, String) => DataFrame): StreamingQuery =
    stream(spark, vecsPath, vecsSchema, storeDir, checkpoint, trigger, compactEvery) {
      (batch, tag) =>
        maybeRefitOnDrift(spark, storeDir, upsertTick(batch, tag), factor, cooldownCommits, occTvMax)
        ()
    }
}

package graft.streaming

import graft.ops.SimilaritySearch
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** The IVF codec: flat vectors assigned to the nearest of `nlist`
  * data-fit centroids. The `_IVF` marker pins `dim/nlist/seed` and the
  * centroid VALUES (unlabeled rows); the drift value is a row's distance
  * to its centroid (`mean_dist`). */
private[streaming] object IvfCodec extends VectorCodec(
    subdir = "ivfvecs", marker = "_IVF", kind = "ivf", configNames = "dim/nlist/seed",
    codeCols = Seq(VectorCodec.cell), keyCols = Seq("cell"), driftName = Some("mean_dist"),
    oneRowPerId = true, exactRerank = false) {

  def pin(cfg: Seq[Long], centroids: Array[Array[Double]],
      target: Option[String] = None): Marker =
    Marker(cfg, target, centroids.toSeq.map("" -> _))

  /** Centroids from the bounded sample, plus the drift anchors: the
    * sample's mean distance-to-nearest-centroid and its cell occupancy. */
  def fit(rows: DataFrame, cfg: Seq[Long]): Marker = {
    val sample = VectorCodec.sampleOf(rows).map(_.toArray.map(_.toDouble))
    val (cs, residuals, occ) =
      VectorCodec.fitCells(sample, cfg(1).toInt, iters = 10, seed = cfg(2))
    val dist = residuals.map(r => math.sqrt(r.foldLeft(0.0)((d, x) => d + x * x)))
    pin(cfg, cs).copy(baseline = Some(dist.sum / sample.length), occ = Some(occ))
  }

  def encode(rows: DataFrame, m: Marker): DataFrame = {
    val bc = rows.sparkSession.sparkContext.broadcast(m.rowsOf(""))
    val assignCell = udf { (v: Seq[Float]) => SimilaritySearch.nearestCellsOf(bc.value, v, 1).head }
    rows.select(col("neighbor_id"), assignCell(col("cvec")).as("cell"), col("cvec"), col("ver"))
  }

  def drift(spark: SparkSession, m: Marker): Column = {
    val bc = spark.sparkContext.broadcast(m.rowsOf(""))
    val distTo = udf { (cell: Int, v: Seq[Float]) =>
      val c = bc.value(cell)
      var d = 0.0; var j = 0
      while (j < c.length) { val t = c(j) - v(j); d += t * t; j += 1 }
      math.sqrt(d)
    }
    distTo(col("cell"), col("cvec"))
  }

  /** Each query probes its `nprobe` nearest pinned cells. */
  def probe(m: Marker, qs: Array[(Long, Array[Float])], nprobe: Int,
      touches: Option[LongAccumulator]): Probe = {
    val cs = m.rowsOf("")
    cosineProbe(qs, qs.flatMap { case (qid, v) =>
      SimilaritySearch.nearestCellsOf(cs, v.toSeq, nprobe).map(c => (qid, c.toLong))
    })
  }
}

/** STREAMING IVF index maintenance — the coarse-quantizer ANN tier
  * ([[SimilaritySearch.ivfBuild]]/[[SimilaritySearch.ivfSearch]]) made
  * DURABLE and INCREMENTAL on the [[VectorStore]] lifecycle. Build-once
  * quantizers force a full-corpus re-pass to admit new vectors; this
  * store PINS the fitted centroids in `_IVF` and each micro-batch assigns
  * its vectors to the pinned cells as a tag-keyed commit. A search
  * prunes to the `ab=` partitions of its queries' nprobe cells —
  * O(queries · nprobe) partitions read, never the corpus.
  *
  * Centroid drift is MANAGED: [[upsertStep]] returns the batch's
  * per-cell occupancy and mean distance-to-centroid, and
  * [[maybeRefitOnDrift]] / `compactStore(refit = true)` refit on a
  * bounded sample of the whole store, reassign every vector and swap
  * both atomically (the two-phase `_IVF.pending` promote).
  *
  * reference analog: none (engine-side training-data surface); the
  * design restates the standard IVF sharded-serving layout on parquet
  * commits. */
object IvfStream extends RefitStore(IvfCodec) {

  /** Pre-pin a quantizer (e.g. to build a second store that must
    * answer identically, or to carry a batch-fit model into the
    * stream). Refuses to overwrite an existing pin. */
  def pinCentroids(
      spark: SparkSession, storeDir: String,
      dim: Int, nlist: Int, seed: Long,
      centroids: Array[Array[Double]]): Unit = {
    val dir = new org.apache.hadoop.fs.Path(storeDir)
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!f.exists(new org.apache.hadoop.fs.Path(dir, "_IVF")),
      s"ivf store $storeDir already has a pinned quantizer")
    f.mkdirs(dir)
    StoreCommits.writeTextFile(spark, dir, "_IVF",
      IvfCodec.pin(Seq[Long](dim, nlist, seed), centroids).render)
  }

  /** The pinned (effective) centroids — monitoring / equality probes. */
  def loadCentroids(spark: SparkSession, storeDir: String): Array[Array[Double]] =
    pinned(spark, storeDir).rowsOf("")

  /** Fold one micro-batch of `(idCol, vecCol)` rows into the store
    * ([[VectorStore.upsert]]). Returns the batch's per-cell
    * `(cell, members, mean_dist)` — the DRIFT MONITOR: mean
    * distance-to-centroid rising tick over tick means the pinned
    * quantizer has drifted off the data. */
  def upsertStep(
      batch: DataFrame, storeDir: String, dim: Int,
      nlist: Int = 16, seed: Long = 13L,
      batchTag: String = java.util.UUID.randomUUID().toString,
      storeParts: Int = 64,
      l0Bound: Int = 1 << 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    upsert(batch, storeDir, Seq[Long](dim, nlist, seed), batchTag, storeParts, l0Bound,
      idCol, vecCol)

  /** Streaming entry ([[RefitStore.refittingStream]]): pass a pre-pinned
    * store (see [[pinCentroids]]) or let the first batch fit. */
  def start(
      spark: SparkSession,
      vecsPath: String,
      vecsSchema: StructType,
      storeDir: String,
      checkpoint: String,
      dim: Int,
      nlist: Int = 16, seed: Long = 13L,
      storeParts: Int = 64,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"),
      compactEvery: Int = 64,
      // default 1.5: the drifting-stream rehearsal (DriftRehearsal, sf1)
      // puts stationary-tick ratios at ≤ ~1.1 of the fit baseline and a
      // genuine joint-distribution shift at ≥ ~2×. 0 disables.
      refitDriftFactor: Double = 1.5,
      // at most one full-store refit per this many ticks
      refitCooldownCommits: Int = 8,
      // occupancy-TV OR-trigger (sf1 rehearsal: stationary ≤ ~0.1,
      // shifted ≥ ~0.9). 0 disables.
      refitOccupancyTv: Double = 0.35): org.apache.spark.sql.streaming.StreamingQuery =
    refittingStream(spark, vecsPath, vecsSchema, storeDir, checkpoint, trigger, compactEvery,
      refitDriftFactor, refitCooldownCommits, refitOccupancyTv) { (batch, tag) =>
      upsertStep(batch, storeDir, dim, nlist, seed, batchTag = tag, storeParts = storeParts)
    }

  /** Top-k cosine search: each query probes its `nprobe` nearest pinned
    * cells ([[VectorStore.search]]). */
  def searchStore(
      spark: SparkSession, storeDir: String, queries: DataFrame, k: Int,
      nprobe: Int = 3, maxQueries: Int = 100000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      candidateFilter: Option[Column] = None): DataFrame =
    search(spark, storeDir, queries, k, nprobe, rerank = 0, maxQueries, idCol, vecCol,
      touches = None, candidateFilter)
}

package graft.streaming

import graft.ops.SimilaritySearch
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** The IVF-PQ codec: coarse cells plus `m` product-quantization codes
  * of the unit vector's residual, one per subspace. The `_IVFPQ` marker
  * pins `dim/nlist/m/seed`, the `coarse` centroids and the per-subspace
  * codebooks `cb0`…`cb<m-1>` — codeword ORDER is load-bearing, stored
  * codes index into it (a degenerate sample can fit fewer than 16
  * codewords, hence labeled rows). The drift value is a row's
  * reconstruction error (`mean_code_err`). */
private[streaming] object PqCodec extends VectorCodec(
    subdir = "pqvecs", marker = "_IVFPQ", kind = "ivf-pq", configNames = "dim/nlist/m/seed",
    codeCols = Seq(VectorCodec.cell, StructField("codes", BinaryType, nullable = true)),
    keyCols = Seq("cell"), driftName = Some("mean_code_err"),
    oneRowPerId = true, exactRerank = true) {

  private def codebook(m: Marker): Array[Array[Array[Double]]] =
    Array.tabulate(m.config(2).toInt)(j => m.rowsOf(s"cb$j"))

  /** Both quantizers from the bounded unit-normalized sample (the
    * [[SimilaritySearch.ivfPqBuild]] recipe). Baseline: the sample's
    * mean code-reconstruction error under the just-fitted models. */
  def fit(rows: DataFrame, cfg: Seq[Long]): Marker = {
    val Seq(dim, nlist, mL, seed) = cfg
    val m = mL.toInt
    val sub = dim.toInt / m
    val sample = VectorCodec.sampleOf(rows).map(VectorCodec.unitOf)
    require(sample.nonEmpty, "ivf-pq store: first upsert must carry vectors")
    val (coarse, residuals, occ) = VectorCodec.fitCells(sample, nlist.toInt, iters = 12, seed)
    val cb = Array.tabulate(m) { j =>
      SimilaritySearch.localKMeans(
        residuals.map(r => java.util.Arrays.copyOfRange(r, j * sub, (j + 1) * sub)),
        16, iters = 12, seed = seed + 1 + j)
    }
    val err = residuals.map { res =>
      var d = 0.0; var j = 0
      while (j < m) {
        val words = cb(j)
        var bestD = Double.MaxValue; var ci = 0
        while (ci < words.length) {
          var e = 0.0; var t = 0
          while (t < sub) { val df = res(j * sub + t) - words(ci)(t); e += df * df; t += 1 }
          if (e < bestD) bestD = e
          ci += 1
        }
        d += bestD; j += 1
      }
      math.sqrt(d)
    }
    Marker(cfg, None, coarse.toSeq.map("coarse" -> _) ++
      cb.toSeq.zipWithIndex.flatMap { case (words, j) => words.map(s"cb$j" -> _) },
      Some(err.sum / residuals.length), Some(occ))
  }

  /** Assign + residual-encode in one pass; versions ride through. */
  def encode(rows: DataFrame, mk: Marker): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val m = mk.config(2).toInt
    val sub = mk.config(0).toInt / m
    val bc = spark.sparkContext.broadcast((mk.rowsOf("coarse"), codebook(mk)))
    rows.select(col("neighbor_id"), col("cvec"), col("ver"))
      .as[(Long, Seq[Float], Long)]
      .mapPartitions { it =>
        val (cs, cb) = bc.value
        it.map { case (id, vf, ver) =>
          val v = VectorCodec.unitOf(vf)
          val cell = VectorCodec.nearest(cs, v)
          val cc = cs(cell)
          val codes = Array.tabulate(m) { j =>
            var best = 0; var bestD = Double.MaxValue
            var ci = 0
            while (ci < cb(j).length) {
              var d = 0.0; var t = 0
              while (t < sub) {
                val diff = (v(j * sub + t) - cc(j * sub + t)) - cb(j)(ci)(t)
                d += diff * diff; t += 1
              }
              if (d < bestD) { bestD = d; best = ci }
              ci += 1
            }
            best.toByte
          }
          (id, cell, codes, vf, ver)
        }
      }.toDF("neighbor_id", "cell", "codes", "cvec", "ver")
  }

  def drift(spark: SparkSession, mk: Marker): Column = {
    val sub = mk.config(0).toInt / mk.config(2).toInt
    val bc = spark.sparkContext.broadcast((mk.rowsOf("coarse"), codebook(mk)))
    val codeErr = udf { (cell: Int, codes: Array[Byte], v: Seq[Float]) =>
      val (cs, cb) = bc.value
      val u = VectorCodec.unitOf(v); val cc = cs(cell)
      var d = 0.0; var j = 0
      while (j < codes.length) {
        val wd = cb(j)(codes(j) & 0xff)
        var t = 0
        while (t < sub) {
          val diff = u(j * sub + t) - cc(j * sub + t) - wd(t)
          d += diff * diff; t += 1
        }
        j += 1
      }
      math.sqrt(d)
    }
    codeErr(col("cell"), col("codes"), col("cvec"))
  }

  override def scoreCols: Seq[Column] = Seq(col("neighbor_id"), col("cell"), col("codes"))

  /** ADC through the cell-indexed, dim-independent per-query lookup
    * tables of [[SimilaritySearch.adcByCell]] (a stored row visits only
    * the queries probing its cell); its keys are the probed cells.
    * `touches` counts exactly those per-row query visits. */
  def probe(mk: Marker, qs: Array[(Long, Array[Float])], nprobe: Int,
      touches: Option[LongAccumulator]): Probe = {
    val m = mk.config(2).toInt
    val byCell = SimilaritySearch.adcByCell(qs.map { case (q, v) => (q, VectorCodec.unitOf(v)) },
      mk.rowsOf("coarse"), codebook(mk), nprobe)
    Probe(byCell.keySet.map(_.toLong), { (scan, cap) =>
      val spark = scan.sparkSession
      import spark.implicits._
      val qBc = spark.sparkContext.broadcast(byCell)
      StoreCommits.scoreAndRank(scan.as[(Long, Int, Array[Byte])], cap, "adc") { (it, acc) =>
        val qc = qBc.value
        val none = Array.empty[(Long, Double, Array[Array[Double]])]
        it.foreach { case (nid, cell, codes) =>
          val entries = qc.getOrElse(cell, none)
          touches.foreach(_.add(entries.length))
          var i = 0
          while (i < entries.length) {
            val (qid, cellDot, table) = entries(i)
            if (qid != nid) {
              var s = cellDot; var j = 0
              while (j < m) { s += table(j)(codes(j) & 0xff); j += 1 }
              acc.insert(qid, nid, s)
            }
            i += 1
          }
        }
      }
    })
  }
}

/** STREAMING IVF-PQ index maintenance — the COMPRESSED tier
  * ([[SimilaritySearch.ivfPqBuild]]/[[SimilaritySearch.ivfPqSearch]]:
  * coarse inverted lists + residual product-quantization codes + ADC +
  * exact re-rank, the layout a memory-bound 100 TB deployment serves
  * from) made durable and incremental on the [[VectorStore]] lifecycle.
  * Where the batch operator scans the WHOLE code relation and filters
  * probed cells per row, the store search opens ONLY the probed cells'
  * `ab=` partitions with the code columns pruned at the parquet scan
  * (the ADC pass never reads the stored vectors), then re-ranks the
  * shortlist exactly against vectors from those same partitions.
  *
  * reference analog: none (engine-side training-data surface); the
  * design restates the standard IVF-PQ serving layout (inverted lists
  * + ADC) on parquet commits. */
object IvfPqStream extends RefitStore(PqCodec) {

  /** The pinned (effective) coarse centroids — monitoring / complexity
    * probes (the [[IvfStream.loadCentroids]] accessor for this tier). */
  def loadCoarse(spark: SparkSession, storeDir: String): Array[Array[Double]] =
    pinned(spark, storeDir).rowsOf("coarse")

  /** Fold one micro-batch into the store ([[VectorStore.upsert]]).
    * Returns the per-cell `(cell, members, mean_code_err)` of the written
    * commit — the DRIFT MONITOR for the compressed tier: the L2 distance
    * between each unit vector and its quantized reconstruction
    * (centroid + decoded residual codewords). */
  def upsertStep(
      batch: DataFrame, storeDir: String, dim: Int,
      nlist: Int = 16, m: Int = 8, seed: Long = 37L,
      batchTag: String = java.util.UUID.randomUUID().toString,
      storeParts: Int = 64,
      l0Bound: Int = 1 << 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    upsert(batch, storeDir, Seq[Long](dim, nlist, m, seed), batchTag, storeParts, l0Bound,
      idCol, vecCol)
  }

  /** Streaming entry ([[RefitStore.refittingStream]]). Pre-pin the
    * models by copying an `_IVFPQ` marker into the store dir, or let the
    * first batch fit. */
  def start(
      spark: SparkSession,
      vecsPath: String,
      vecsSchema: StructType,
      storeDir: String,
      checkpoint: String,
      dim: Int,
      nlist: Int = 16, m: Int = 8, seed: Long = 37L,
      storeParts: Int = 64,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"),
      compactEvery: Int = 64,
      // default 1.5 — the [[IvfStream.start]] rationale (stationary
      // mean-code-err ratios ≤ ~1.1, a joint shift ≥ ~2×). 0 disables.
      refitDriftFactor: Double = 1.5,
      refitCooldownCommits: Int = 8,
      // occupancy-TV OR-trigger (sf1 rehearsal: stationary ≤ ~0.1,
      // shifted ~0.9 where the error ratio reads ~1.1). 0 disables.
      refitOccupancyTv: Double = 0.35): org.apache.spark.sql.streaming.StreamingQuery =
    refittingStream(spark, vecsPath, vecsSchema, storeDir, checkpoint, trigger, compactEvery,
      refitDriftFactor, refitCooldownCommits, refitOccupancyTv) { (batch, tag) =>
      upsertStep(batch, storeDir, dim, nlist, m, seed, batchTag = tag, storeParts = storeParts)
    }

  /** Top-k search: probed-cell ADC shortlist of `max(rerank, k)` + exact
    * cosine re-rank ([[VectorStore.search]]). Candidate generation and
    * scoring are identical to [[SimilaritySearch.ivfPqSearch]].
    * `touches`, when supplied, counts the per-row query visits — the
    * complexity probe the specs assert against. */
  def searchStore(
      spark: SparkSession, storeDir: String, queries: DataFrame, k: Int,
      nprobe: Int = 4, rerank: Int = 32, maxQueries: Int = 100000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      touches: Option[LongAccumulator] = None,
      candidateFilter: Option[Column] = None): DataFrame =
    search(spark, storeDir, queries, k, nprobe, rerank, maxQueries, idCol, vecCol,
      touches, candidateFilter)
}

package graft.streaming

import graft.functions.VectorExpressions
import graft.ops.SimilaritySearch
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** The LSH codec: each vector is stored once per hash table, keyed by
  * its (tbl, bucket) — all tables' keys from one fused expression. The
  * model is the HYPERPLANE FAMILY itself (`dim/planes/seed/tables`),
  * derived from config, never fit: keys from a drifted family agree only
  * by chance, so a mismatched writer dies loudly. */
private[streaming] object LshCodec extends VectorCodec(
    subdir = "annvecs", marker = "_ANN", kind = "ann", configNames = "dim/planes/seed/tables",
    codeCols = Seq(StructField("tbl", IntegerType, nullable = false),
      StructField("bucket", IntegerType, nullable = false)),
    keyCols = Seq("tbl", "bucket"), driftName = None,
    oneRowPerId = false, exactRerank = false) {

  override def fromConfig(cfg: Seq[Long]): Option[Marker] = Some(Marker(cfg))
  def fit(rows: DataFrame, cfg: Seq[Long]): Marker = Marker(cfg)
  override def rowsPerVector(m: Marker): Int = math.max(1, m.config(3).toInt)
  def drift(spark: SparkSession, m: Marker): Column = lit(0.0) // never read: no drift signal

  private def family(m: Marker): (Int, Int, Seq[Float]) = {
    val Seq(dim, planes, seed, tables) = m.config
    (dim.toInt, planes.toInt,
      SimilaritySearch.tablePlanesFlat(dim.toInt, planes.toInt, seed, tables.toInt))
  }

  def encode(rows: DataFrame, m: Marker): DataFrame = {
    val (dim, planes, flat) = family(m)
    rows.select(col("neighbor_id"), col("cvec"), col("ver"),
        posexplode(VectorExpressions.hyperplaneKeys(col("cvec"), flat, planes, dim))
          .as(Seq("tbl", "bucket")))
      .select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** One-bit multi-probe per table: each query's own bucket plus its
    * `planes` one-bit neighbors. The keys come from the WRITER'S keying
    * expression evaluated driver-side (HyperplaneKeys.nullSafeEval, the
    * arithmetic its codegen compiles) — no plan, no job. */
  def probe(m: Marker, qs: Array[(Long, Array[Float])], nprobe: Int,
      touches: Option[LongAccumulator]): Probe = {
    val (dim, planes, flat) = family(m)
    val hk = VectorExpressions.HyperplaneKeys(
      org.apache.spark.sql.catalyst.expressions.Literal.create(null, ArrayType(FloatType)),
      flat, planes, dim)
    cosineProbe(qs, qs.flatMap { case (qid, v) =>
      hk.nullSafeEval(new org.apache.spark.sql.catalyst.util.GenericArrayData(v))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray
        .iterator.zipWithIndex.flatMap { case (bucket, tbl) =>
          (bucket +: (0 until planes).map(b => bucket ^ (1 << b)))
            .map(bk => (qid, tbl.toLong * (1L << 32) + bk))
        }
    })
  }
}

/** STREAMING ANN index maintenance — the batch LSH build/search split
  * ([[SimilaritySearch.lshBuild]]/[[SimilaritySearch.lshSearch]]) made
  * DURABLE and INCREMENTAL on the [[VectorStore]] lifecycle: per
  * micro-batch, each vector's bucket keys (all tables) are appended as a
  * tag-keyed commit under `annvecs/batch=<tag>`, and a search probes ONLY
  * the `ab=` partitions its query buckets hash into — O(queries · tables
  * · probes) partitions read, never the corpus. The `_ANN` marker pins
  * the hyperplane family; candidate generation, scoring and ranking are
  * identical to [[SimilaritySearch.lshSearch]].
  *
  * reference analog: none (engine-side training-data surface); the
  * bucketed-LSH-store idea is the standard sharded-ANN-index pattern
  * restated on parquet commits. */
object AnnStream extends VectorStore(LshCodec) {

  /** Fold one micro-batch of `(idCol, vecCol)` rows into the store.
    * Returns the batch's (tbl, bucket) occupancy — the hot-bucket
    * monitor, same signal as [[SimilaritySearch.LshIndex.bucketSizes]]. */
  def upsertStep(
      batch: DataFrame, storeDir: String, dim: Int,
      planes: Int = 8, seed: Long = 7L, tables: Int = 1,
      batchTag: String = java.util.UUID.randomUUID().toString,
      storeParts: Int = 64,
      l0Bound: Int = 1 << 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    upsert(batch, storeDir, Seq[Long](dim, planes, seed, tables), batchTag,
      storeParts, l0Bound, idCol, vecCol)

  /** Streaming entry ([[VectorStore.stream]]). */
  def start(
      spark: SparkSession,
      vecsPath: String,
      vecsSchema: StructType,
      storeDir: String,
      checkpoint: String,
      dim: Int,
      planes: Int = 8, seed: Long = 7L, tables: Int = 1,
      storeParts: Int = 64,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds"),
      compactEvery: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    stream(spark, vecsPath, vecsSchema, storeDir, checkpoint, trigger, compactEvery) {
      (batch, tag) =>
        upsertStep(batch, storeDir, dim, planes, seed, tables, batchTag = tag,
          storeParts = storeParts)
        ()
    }

  /** Fold the accumulated commits into one hash-partitioned commit
    * ([[VectorStore.compact]]; an id keeps its latest version's rows,
    * one per table). */
  def compactStore(spark: SparkSession, storeDir: String,
      gcGraceMs: Long = StoreCommits.defaultGcGraceMs): Unit =
    compact(spark, storeDir, refit = false, gcGraceMs)

  /** Top-k cosine search with one-bit multi-probe per table
    * ([[VectorStore.search]]). */
  def searchStore(
      spark: SparkSession, storeDir: String, queries: DataFrame, k: Int,
      maxQueries: Int = 100000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      candidateFilter: Option[Column] = None): DataFrame =
    search(spark, storeDir, queries, k, nprobe = 0, rerank = 0, maxQueries, idCol, vecCol,
      touches = None, candidateFilter)
}

package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-16 tombstone deletes (verdict #3): `deleteStep`/`deleteLabels`
  * give every durable store a takedown path without a full rebuild.
  * Contract under test, per store:
  *   - a deleted id is NEVER returned post-delete — before compaction
  *     (search-time tombstone filter) and after (physical drop);
  *   - compaction physically drops the rows AND retires the applied
  *     tombstones (the tombstone relation empties);
  *   - the compacted store equals one built from the survivors
  *     (row-identical for the pinned-model tiers; search-identical for
  *     the deterministic LSH keying);
  *   - an id re-upserted AFTER the compaction returns again (fresh
  *     insert), while one re-upserted BETWEEN delete and compaction
  *     stays masked (delete wins within a generation — the documented
  *     contract). */
class Round16TombstoneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb: DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")

  private def neighbors(df: DataFrame): Set[Long] =
    df.select("neighbor_id").collect().map(_.getLong(0)).toSet

  private def storedIds(store: String, sub: String,
      schema: org.apache.spark.sql.types.StructType): Set[Long] =
    StoreCommits.readStore(spark, s"$store/$sub", schema,
      excludeTag = " none ", partCol = "ab", wanted = (0 until 64).toSet)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet

  test("AnnStream: delete masks immediately, compaction drops physically and equals a survivor-built store; re-add works post-compaction") {
    val store = java.nio.file.Files.createTempDirectory("tombann").toString
    val corpus = emb
    val queries = corpus.filter(col("vec_id") < 10)
    def up(c: DataFrame, s: String, tag: String) = AnnStream.upsertStep(
      c, s, dim = 64, planes = 6, seed = 7L, tables = 8, batchTag = tag)
    (0 until 3).foreach(c => up(
      corpus.filter(pmod(col("vec_id"), lit(3)) === c), store, s"b$c"))

    val before = AnnStream.searchStore(spark, store, queries, k = 5)
    val victim = before.filter(col("query_id") === 0 && col("rank") === 1)
      .collect()(0).getLong(1)
    import spark.implicits._
    val victims = Seq(victim).toDF("vec_id")

    // pre-compaction: search-time mask
    assert(AnnStream.deleteStep(victims, store, batchTag = "d0") == 1L)
    val masked = AnnStream.searchStore(spark, store, queries, k = 5)
    assert(!neighbors(masked).contains(victim), "deleted id returned pre-compaction")
    // the physical rows are still there (drop is compaction's job)
    assert(storedIds(store, "annvecs", LshCodec.schema).contains(victim))

    // delete-then-reupsert BEFORE compaction: stays masked (documented)
    up(corpus.filter(col("vec_id") === victim), store, "readd-early")
    assert(!neighbors(AnnStream.searchStore(spark, store, queries, k = 5))
      .contains(victim), "mask must win within a generation")

    // compaction: physical drop + tombstone retirement
    AnnStream.compactStore(spark, store)
    assert(!storedIds(store, "annvecs", LshCodec.schema).contains(victim),
      "compaction must drop the tombstoned rows")
    assert(StoreCommits.tombstoneCommits(spark, store).isEmpty,
      "applied tombstones must retire")
    val after = AnnStream.searchStore(spark, store, queries, k = 5)
    assert(!neighbors(after).contains(victim), "deleted id returned post-compaction")

    // survivor-built equivalence (deterministic keying → identical search)
    val store2 = java.nio.file.Files.createTempDirectory("tombann2").toString
    (0 until 3).foreach(c => up(corpus
      .filter(pmod(col("vec_id"), lit(3)) === c && col("vec_id") =!= victim),
      store2, s"b$c"))
    AnnStream.compactStore(spark, store2)
    val survivor = AnnStream.searchStore(spark, store2, queries, k = 5)
    assert(after.collect().map(_.toSeq).toSet == survivor.collect().map(_.toSeq).toSet,
      "compacted store must equal one built from the survivors")

    // re-add AFTER compaction: fresh insert, id returns
    up(corpus.filter(col("vec_id") === victim), store, "readd")
    assert(neighbors(AnnStream.searchStore(spark, store, queries, k = 5))
      .contains(victim), "post-compaction re-upsert must serve again")
  }

  test("IvfStream + IvfPqStream: delete masks, compaction drops exactly the victim's rows and retires tombstones") {
    import spark.implicits._
    val corpus = emb
    val queries = corpus.filter(col("vec_id") < 10)

    // --- IVF
    val ivf = java.nio.file.Files.createTempDirectory("tombivf").toString
    (0 until 3).foreach(c => IvfStream.upsertStep(
      corpus.filter(pmod(col("vec_id"), lit(3)) === c), ivf,
      dim = 64, nlist = 16, seed = 13L, batchTag = s"b$c"))
    val ivfBefore = IvfStream.searchStore(spark, ivf, queries, k = 5, nprobe = 8)
    val v1 = ivfBefore.filter(col("query_id") === 0 && col("rank") === 1)
      .collect()(0).getLong(1)
    IvfStream.deleteStep(Seq(v1).toDF("vec_id"), ivf, batchTag = "d0")
    assert(!neighbors(IvfStream.searchStore(spark, ivf, queries, k = 5, nprobe = 8))
      .contains(v1), "IVF deleted id returned pre-compaction")
    val ivfRowsBefore = storedIds(ivf, "ivfvecs", IvfCodec.schema)
    IvfStream.compactStore(spark, ivf)
    val ivfRowsAfter = storedIds(ivf, "ivfvecs", IvfCodec.schema)
    assert(ivfRowsAfter == ivfRowsBefore - v1,
      "IVF compaction must drop exactly the tombstoned id's rows")
    assert(StoreCommits.tombstoneCommits(spark, ivf).isEmpty)
    assert(!neighbors(IvfStream.searchStore(spark, ivf, queries, k = 5, nprobe = 8))
      .contains(v1), "IVF deleted id returned post-compaction")

    // --- IVF-PQ (delete must also vanish from the exact re-rank stage)
    val pq = java.nio.file.Files.createTempDirectory("tombpq").toString
    (0 until 3).foreach(c => IvfPqStream.upsertStep(
      corpus.filter(pmod(col("vec_id"), lit(3)) === c), pq,
      dim = 64, nlist = 16, m = 8, seed = 37L, batchTag = s"b$c"))
    val pqBefore = IvfPqStream.searchStore(spark, pq, queries, k = 5,
      nprobe = 8, rerank = 64)
    val v2 = pqBefore.filter(col("query_id") === 0 && col("rank") === 1)
      .collect()(0).getLong(1)
    IvfPqStream.deleteStep(Seq(v2).toDF("vec_id"), pq, batchTag = "d0")
    assert(!neighbors(IvfPqStream.searchStore(spark, pq, queries, k = 5,
      nprobe = 8, rerank = 64)).contains(v2), "IVF-PQ deleted id returned pre-compaction")
    val pqRowsBefore = storedIds(pq, "pqvecs", PqCodec.schema)
    IvfPqStream.compactStore(spark, pq)
    assert(storedIds(pq, "pqvecs", PqCodec.schema) == pqRowsBefore - v2,
      "IVF-PQ compaction must drop exactly the tombstoned id's rows")
    assert(StoreCommits.tombstoneCommits(spark, pq).isEmpty)
    assert(!neighbors(IvfPqStream.searchStore(spark, pq, queries, k = 5,
      nprobe = 8, rerank = 64)).contains(v2), "IVF-PQ deleted id returned post-compaction")
  }

  test("label store: deleteLabels masks latestLabels, compactLabels drops physically and retires") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("tomblbl").toString
    // two ticks: {1,2,3} merge via (1,2),(2,3); {10,11} via (10,11)
    DedupStream.foldLabels(Seq(1L, 2L, 3L).toDF("doc_id"),
      Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2"), store, "t0")
    DedupStream.foldLabels(Seq(10L, 11L).toDF("doc_id"),
      Seq((10L, 11L)).toDF("id1", "id2"), store, "t1")
    def ids() = DedupStream.latestLabels(spark, store)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids() == Set(1L, 2L, 3L, 10L, 11L))

    assert(DedupStream.deleteLabels(Seq(2L, 11L).toDF("doc_id"), store, "d0") == 2L)
    assert(ids() == Set(1L, 3L, 10L), "deleted ids returned pre-compaction")

    // grace 0 pins the physical-drop layout this test reads by raw
    // directory discovery (the pre-round-18 behavior)
    DedupStream.compactLabels(spark, store, gcGraceMs = 0L)
    assert(ids() == Set(1L, 3L, 10L), "deleted ids returned post-compaction")
    assert(StoreCommits.tombstoneCommits(spark, store, "labels/tombstones").isEmpty,
      "applied label tombstones must retire")
    // physical: the byId relation itself has no trace of the deleted ids
    val raw = spark.read.parquet(
      new java.io.File(s"$store/labels/byId").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getAbsolutePath): _*)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!raw.contains(2L) && !raw.contains(11L),
      "compaction must drop tombstoned byId rows physically")
    // survivors keep their labels (1,3 still share component min=1)
    val lbl = DedupStream.latestLabels(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lbl(1L) == 1L && lbl(3L) == 1L && lbl(10L) == 10L)
  }
}

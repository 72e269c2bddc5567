package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-17 (optimization round) GC grace window: physical deletion of
  * replaced/retired commit dirs is deferred by TIME, not by generation
  * count. The one-generation grace lost a race the full-suite run
  * reproduced (FAILED_READ_FILE on a mid-read generation when two
  * compactions completed inside one read's latency); the `_RETIRED`
  * ledger makes the retention window explicit — the snapshot-retention
  * contract (Iceberg `expire_snapshots(older_than)` shape).
  *
  * Pinned here:
  *   - VISIBILITY is unchanged: retired dirs vanish from the manifest
  *     at the swap; readers see only the new generation;
  *   - under the default grace, dirs replaced by fold N are STILL ON
  *     DISK after fold N+1 — the reader that straddles two folds
  *     finishes its lazy read;
  *   - with the grace elapsed (gcGraceMs = 0), the next fold collects
  *     them — the pre-round-17 behavior, still the spec-pinned path;
  *   - retired tombstone dirs linger under grace with the tombstone
  *     MANIFEST already empty (mask retired, files graced). */
class Round17GcGraceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb: DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")

  private def dirs(store: String): Set[String] =
    new java.io.File(s"$store/annvecs").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet

  test("replaced generations survive multiple folds under the default grace; age out at grace 0") {
    val store = java.nio.file.Files.createTempDirectory("gcgrace").toString
    def up(tag: String, m: Long) = AnnStream.upsertStep(
      emb.filter(pmod(col("vec_id"), lit(3)) === m), store,
      dim = 64, planes = 6, seed = 7L, tables = 4, batchTag = tag)
    up("b0", 0); up("b1", 1)
    val gen0 = dirs(store)
    assert(gen0 == Set("batch=b0", "batch=b1"))

    // fold 1 (default grace): replaced dirs stamped, kept
    AnnStream.compactStore(spark, store)
    assert(gen0.subsetOf(dirs(store)), "fold 1 must keep the replaced generation")
    up("b2", 2)
    // fold 2 (default grace): gen0 is TWO folds old but inside the
    // grace window — the dirs a straddling reader may still hold open
    // MUST survive (the exact race the one-generation grace lost)
    AnnStream.compactStore(spark, store)
    assert(gen0.subsetOf(dirs(store)),
      "a generation inside the grace window must survive a second fold")
    // visibility: a fresh reader sees only the new generation
    val root = new org.apache.hadoop.fs.Path(s"$store/annvecs")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val visible = StoreCommits.readManifest(fs, root).get
    assert(visible.size == 1 && visible.head.startsWith("batch=compact-"),
      s"manifest must hide retired dirs: $visible")

    // grace elapsed (0 ms): the next fold collects everything retired
    up("b3", 0)
    AnnStream.compactStore(spark, store, gcGraceMs = 0L)
    val after = dirs(store)
    assert(gen0.intersect(after).isEmpty,
      s"aged-out generations must be collected: kept ${gen0.intersect(after)}")
  }

  test("retired tombstone dirs linger under grace with an already-empty tombstone manifest") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("gcgracet").toString
    AnnStream.upsertStep(emb, store, dim = 64, planes = 6, seed = 7L,
      tables = 4, batchTag = "b0")
    val victim = emb.select("vec_id").as[Long].head()
    AnnStream.deleteStep(Seq(victim).toDF("vec_id"), store, batchTag = "d0")
    AnnStream.compactStore(spark, store) // default grace
    // mask retired: manifest empty; files graced: the dir still exists
    assert(StoreCommits.tombstoneCommits(spark, store).isEmpty,
      "applied tombstones must leave the manifest at the swap")
    assert(new java.io.File(s"$store/tombstones/batch=d0").exists(),
      "the applied tombstone dir must linger under the grace window")
    // grace elapsed: the next fold's opportunistic sweep collects it
    AnnStream.upsertStep(
      emb.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
      store, dim = 64, planes = 6, seed = 7L, tables = 4, batchTag = "b1")
    AnnStream.compactStore(spark, store, gcGraceMs = 0L)
    assert(!new java.io.File(s"$store/tombstones/batch=d0").exists(),
      "aged-out tombstone dirs must be collected by the sweep")
  }
}

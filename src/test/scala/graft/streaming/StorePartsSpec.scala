package graft.streaming

import graft.SparkSpec

/** A truncated or hand-edited `_PARTS` marker is an
  * IllegalArgumentException naming the marker on every path that reads
  * it — the search and compaction paths included, not only the write
  * path's layout check. An edit that leaves the local checksum sidecar
  * stale fails by the file's name and the stale sidecar. */
class StorePartsSpec extends SparkSpec {
  import spark.implicits._

  /** Overwrite the marker, and drop the local filesystem's checksum
    * sidecar the edit leaves stale. */
  private def corrupt(store: String): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(store, "_PARTS"), "abc".getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(store, "._PARTS.crc"))
    ()
  }

  test("a _PARTS edit that leaves its checksum sidecar stale fails naming the file and the sidecar") {
    val ivf = java.nio.file.Files.createTempDirectory("partscrc").toString
    val emb = (1L to 40L).map(id => id -> Array.tabulate(8)(j => ((id * 31 + j * 7) % 17).toFloat))
      .toDF("vec_id", "embedding")
    IvfStream.upsertStep(emb, ivf, dim = 8, nlist = 4, batchTag = "b0")
    assert(new java.io.File(ivf, "._PARTS.crc").exists())
    java.nio.file.Files.write(java.nio.file.Paths.get(ivf, "_PARTS"), "abc".getBytes("UTF-8"))
    val e = intercept[java.io.IOException] {
      IvfStream.searchStore(spark, ivf, emb.limit(2), k = 3).collect()
    }
    assert(e.getMessage.contains(s"$ivf/_PARTS") && e.getMessage.contains("._PARTS.crc") &&
      e.getMessage.contains("sidecar is stale"), e.getMessage)
  }

  private def assertNamesMarker(e: IllegalArgumentException): Unit =
    assert(e.getMessage.contains("malformed _PARTS marker 'abc'"), e.getMessage)

  test("a malformed _PARTS fails a vector search and a label compaction by name") {
    val ivf = java.nio.file.Files.createTempDirectory("partsivf").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    IvfStream.upsertStep(emb, ivf, dim = 64, nlist = 8, batchTag = "b0")
    corrupt(ivf)
    assertNamesMarker(intercept[IllegalArgumentException] {
      IvfStream.searchStore(spark, ivf, emb.limit(2), k = 3).collect()
    })
    assertNamesMarker(intercept[IllegalArgumentException] {
      IvfStream.upsertStep(emb.limit(5), ivf, dim = 64, nlist = 8, batchTag = "b1")
    })

    val labels = java.nio.file.Files.createTempDirectory("partslbl").toString
    DedupStream.foldLabels(Seq(1L, 2L).toDF("doc_id"), Seq((1L, 2L)).toDF("id1", "id2"),
      labels, "t0")
    DedupStream.foldLabels(Seq(3L).toDF("doc_id"), Seq.empty[(Long, Long)].toDF("id1", "id2"),
      labels, "t1")
    corrupt(labels)
    assertNamesMarker(intercept[IllegalArgumentException] {
      DedupStream.compactLabels(spark, labels)
    })
  }
}

package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The commit protocol's on-disk footprint, pinned per sub-store root
  * for the three store families that share it: a dedup store, a label
  * store and a vector store, each driven through writes, a delete and
  * a compaction at grace 0 and at the default grace.
  *
  * For every root it pins the exact `_MANIFEST` and `_FOLDED` name sets
  * (and that each file is its names sorted, one a line), the `_RETIRED`
  * names (not the stamps), and the `batch=*` dirs left on disk. Fold
  * targets carry a random suffix and are compared as `batch=compact-*`.
  * Read with plain file I/O, so the spec does not depend on where the
  * protocol helpers live. */
class StoreCommitsSpec extends SparkSpec {
  import spark.implicits._

  /** One root as a reader of the raw files sees it. */
  private case class Root(
      manifest: Option[Set[String]], folded: Option[Set[String]],
      retired: Option[Set[String]], dirs: Set[String])

  private def norm(name: String): String =
    if (name.startsWith("batch=compact-")) "batch=compact-*" else name

  private def text(f: java.io.File): Option[String] =
    if (!f.exists()) None
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try Some(src.mkString) finally src.close()
    }

  /** A name file's set; asserts the bytes are the sorted names, one a line. */
  private def names(f: java.io.File): Option[Set[String]] = text(f).map { t =>
    val ns = t.split('\n').map(_.trim).filter(_.nonEmpty).toSet
    assert(t == ns.toSeq.sorted.mkString("\n"), s"$f is not its sorted names: '$t'")
    ns.map(norm)
  }

  private def root(store: String, sub: String): Root = {
    val d = new java.io.File(s"$store/$sub")
    Root(
      names(new java.io.File(d, "_MANIFEST")),
      names(new java.io.File(d, "_FOLDED")),
      text(new java.io.File(d, "_RETIRED")).map(_.split('\n').map(_.trim)
        .filter(_.nonEmpty).map(l => norm(l.substring(0, l.lastIndexOf(' ')))).toSet),
      Option(d.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(f => norm(f.getName)).toSet)
  }

  private def parts(store: String): Option[String] =
    text(new java.io.File(s"$store/_PARTS"))

  private def set(ns: String*): Set[String] = ns.toSet

  private val compacted = "batch=compact-*"

  private def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "))
  private val base = (0 until 40).map(i => s"w${i}x")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  Seq("grace 0" -> Some(0L), "default grace" -> None).foreach { case (label, grace) =>
    val keep = grace.isEmpty

    test(s"dedup store ($label): step x2, a one-commit sub-store, compact") {
      val store = tmp("scdedup")
      DedupStream.step(Seq(doc(1L, base), doc(2L, (100 until 140).map(i => s"z$i")))
        .toDF("doc_id", "text"), store, batchTag = "s1").unpersist()
      DedupStream.step(Seq(doc(3L, base.take(36) ++ Seq("q1", "q2", "q3", "q4")))
        .toDF("doc_id", "text"), store, batchTag = "s2").unpersist()
      DedupStream.spanStep(Seq((9L, (0 until 30).map(i => s"a$i").mkString(" ")))
        .toDF("doc_id", "text"), store, batchTag = "p1").unpersist()
      grace.fold(DedupStream.compact(spark, store))(g => DedupStream.compact(spark, store, g))

      assert(parts(store).contains("64/2"))
      Seq("buckets", "sigs").foreach { sub =>
        assert(root(store, sub) == Root(
          Some(set(compacted)), Some(set("batch=s1", "batch=s2")),
          if (keep) Some(set("batch=s1", "batch=s2")) else None,
          if (keep) set("batch=s1", "batch=s2", compacted) else set(compacted)), sub)
      }
      // a sub-store with one commit is not folded, and adopts no manifest
      assert(root(store, "spans") == Root(None, None, None, set("batch=p1")))
    }

    test(s"label store ($label): clusterStep x2, deleteLabels, compactLabels") {
      val store = tmp("sclabel")
      val w = (0 until 200).map(i => s"w${i}x")
      DedupStream.clusterStep(Seq(doc(1L, w), doc(2L, (1000 until 1200).map(i => s"z$i")))
        .toDF("doc_id", "text"), store, batchTag = "c1")
      DedupStream.clusterStep(Seq(doc(3L, w.dropRight(1))).toDF("doc_id", "text"),
        store, batchTag = "c2")
      assert(DedupStream.deleteLabels(Seq(2L).toDF("doc_id"), store, "d0") == 1L)
      grace.fold(DedupStream.compactLabels(spark, store))(g =>
        DedupStream.compactLabels(spark, store, g))

      assert(parts(store).contains("64/3"))
      Seq("labels/byId", "labels/byComp").foreach { sub =>
        assert(root(store, sub) == Root(
          Some(set(compacted)), Some(set("batch=c1", "batch=c2")),
          if (keep) Some(set("batch=c1", "batch=c2")) else None,
          if (keep) set("batch=c1", "batch=c2", compacted) else set(compacted)), sub)
      }
      // applied tombstones retire on the compaction's grace: the fold's
      // sweep of the tombstone root ages out at grace 0 what the
      // retirement just stamped, as in the vector store
      assert(root(store, "labels/tombstones") == Root(
        Some(Set.empty), Some(set("batch=d0")),
        Some(if (keep) set("batch=d0") else Set.empty),
        if (keep) set("batch=d0") else Set.empty))
      // the simhash sub-stores clusterStep also writes are not folded here
      Seq("chunks", "fps").foreach { sub =>
        assert(root(store, sub) == Root(None, None, None, set("batch=c1", "batch=c2")), sub)
      }
      assert(DedupStream.latestLabels(spark, store).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 1L, 3L -> 1L))
    }

    test(s"vector store ($label): upsertStep x2, deleteStep, compactStore") {
      val store = tmp("scvec")
      val emb: DataFrame = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
      def up(tag: String, m: Long): Unit = AnnStream.upsertStep(
        emb.filter(pmod(col("vec_id"), lit(2)) === m), store,
        dim = 64, planes = 6, seed = 7L, tables = 4, batchTag = tag)
      up("b0", 0); up("b1", 1)
      val victim = emb.select("vec_id").as[Long].head()
      assert(AnnStream.deleteStep(Seq(victim).toDF("vec_id"), store, batchTag = "d0") == 1L)
      grace.fold(AnnStream.compactStore(spark, store))(g =>
        AnnStream.compactStore(spark, store, g))

      assert(parts(store).contains("64/0"))
      // the vector stores keep the replaced generation through the fold
      // that replaced it, even at grace 0
      assert(root(store, "annvecs") == Root(
        Some(set(compacted)), Some(set("batch=b0", "batch=b1")),
        Some(set("batch=b0", "batch=b1")), set("batch=b0", "batch=b1", compacted)))
      // the fold's sweep of the tombstone root ages out at grace 0 what
      // the retirement just stamped, leaving an empty ledger
      assert(root(store, "tombstones") == Root(
        Some(Set.empty), Some(set("batch=d0")),
        Some(if (keep) set("batch=d0") else Set.empty),
        if (keep) set("batch=d0") else Set.empty))
      assert(!AnnStream.liveVectors(spark, store).select("neighbor_id").as[Long]
        .collect().contains(victim))
    }
  }
}

package graft.streaming

import graft.SparkSpec
import graft.ops.SimilaritySearch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The durable incremental IVF-SQ8 store ([[IvfSqStream]]) against the
  * batch build/search split it must equal: accretion under the pinned
  * model answers identically to a one-shot store under the same pins
  * AND to brute force on the planted corpus; the per-dim bounds
  * round-trip through the marker; replay is idempotent; config drift
  * dies loudly; compaction (grace GC), refit, tombstone deletes, and
  * the empty-first-batch edge follow the sibling contracts. */
class IvfSqStreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb: DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")

  private def resultSet(df: DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def searchSet(store: String, queries: DataFrame): Set[(Long, Long, Int)] =
    resultSet(IvfSqStream.searchStore(spark, store, queries, k = 5,
        nprobe = 10, rerank = 192)
      .select("query_id", "neighbor_id", "rank"))

  test("3-tick accretion = one-shot store = brute force on the planted corpus") {
    val corpus = SimilaritySearch.plantedNeighborCorpus(emb)
    val queries = corpus.filter(col("vec_id") < 10)
    val storeA = java.nio.file.Files.createTempDirectory("sqa").toString
    (0 until 3).foreach { c =>
      IvfSqStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(3)) === c),
        storeA, dim = 64, nlist = 16, seed = 41L, batchTag = s"a$c")
    }
    // one-shot store under the SAME pinned model: copy the marker
    val storeB = java.nio.file.Files.createTempDirectory("sqb").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$storeA/_IVFSQ"),
      java.nio.file.Paths.get(s"$storeB/_IVFSQ"))
    IvfSqStream.upsertStep(corpus, storeB, dim = 64, nlist = 16,
      seed = 41L, batchTag = "all")
    val a = searchSet(storeA, queries)
    val b = searchSet(storeB, queries)
    assert(a == b && a.size == 50, s"accreted ${a.size} != one-shot ${b.size}")
    val brute = resultSet(SimilaritySearch.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id", "rank"))
    assert(a == brute, "planted top-5 must equal brute force")
  }

  test("replay idempotence, config drift, compaction grace, refit transparency, empty batch") {
    val corpus = SimilaritySearch.plantedNeighborCorpus(emb)
    val queries = corpus.filter(col("vec_id") < 10)
    val store = java.nio.file.Files.createTempDirectory("sqc").toString

    // empty FIRST batch: no commit, no fit, no marker — the store stays
    // unpinned instead of crashing the quantizer sample
    val m00 = IvfSqStream.upsertStep(corpus.filter(col("vec_id") < -1),
      store, dim = 64, nlist = 16, seed = 41L, batchTag = "empty")
    assert(m00.count() == 0)
    assert(!new java.io.File(s"$store/_IVFSQ").exists(),
      "an empty first batch must not pin a model")

    val mon = (0 until 3).map { c =>
      IvfSqStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(3)) === c),
        store, dim = 64, nlist = 16, seed = 41L, batchTag = s"b$c")
    }
    val m0 = mon.head.collect()
    assert(m0.map(_.getLong(1)).sum > 0, "occupancy monitor")
    assert(m0.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) < 2.0),
      "mean_code_err must be a sub-unit L2 on unit vectors")
    val expected = searchSet(store, queries)
    assert(expected.size == 50)

    def commits = new java.io.File(s"$store/sqvecs").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
    val before = commits
    IvfSqStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(3)) === 1L),
      store, dim = 64, nlist = 16, seed = 41L, batchTag = "b1")
    assert(commits == before, "replay must not add a commit")
    assert(searchSet(store, queries) == expected)

    intercept[IllegalArgumentException] {
      IvfSqStream.upsertStep(corpus.limit(1), store,
        dim = 64, nlist = 8, seed = 41L, batchTag = "drift")
    }
    intercept[IllegalArgumentException] {
      IvfSqStream.searchStore(spark, "/tmp/not-a-sq-store", queries, k = 5)
    }

    IvfSqStream.compactStore(spark, store, gcGraceMs = 0L)
    assert(commits.size == 4 && commits.exists(_.startsWith("batch=compact-")),
      "generation GC grace")
    assert(searchSet(store, queries) == expected)
    IvfSqStream.compactStore(spark, store, gcGraceMs = 0L)
    assert(commits.size == 1, "second compaction collects the prior generation")
    assert(searchSet(store, queries) == expected)

    // refit: new model, re-encoded rows, pending promoted, answers
    // preserved on the planted structure
    IvfSqStream.compactStore(spark, store, refit = true)
    assert(!new java.io.File(s"$store/_IVFSQ.pending").exists(),
      "pending must promote after the swap")
    assert(searchSet(store, queries) == expected, "refit is answer-transparent")
    // post-refit upserts encode under the NEW model
    IvfSqStream.upsertStep(
      emb.filter(col("vec_id") >= 20 && col("vec_id") < 120)
        .select((col("vec_id") + lit(7000000L)).as("vec_id"), col("embedding")),
      store, dim = 64, nlist = 16, seed = 41L, batchTag = "post")
    assert(searchSet(store, queries) == expected,
      "distractor duplicates must not perturb the planted top-5")
  }

  test("empty batch, every store kind: no commit becomes visible, no model pinned, empty monitor") {
    val corpus = SimilaritySearch.plantedNeighborCorpus(emb).filter(col("vec_id") < 200)
    val none = corpus.filter(col("vec_id") < -1)
    val kinds: Seq[(String, String, (DataFrame, String, String) => DataFrame)] = Seq(
      ("annvecs", "_ANN", (b, d, t) => AnnStream.upsertStep(b, d, dim = 64, batchTag = t)),
      ("ivfvecs", "_IVF", (b, d, t) => IvfStream.upsertStep(b, d, dim = 64, batchTag = t)),
      ("pqvecs", "_IVFPQ", (b, d, t) => IvfPqStream.upsertStep(b, d, dim = 64, batchTag = t)),
      ("sqvecs", "_IVFSQ", (b, d, t) => IvfSqStream.upsertStep(b, d, dim = 64, batchTag = t)))
    for ((sub, marker, upsert) <- kinds) {
      val store = java.nio.file.Files.createTempDirectory("empty").toString
      val root = new org.apache.hadoop.fs.Path(s"$store/$sub")
      def visible = StoreCommits.visibleCommits(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration), root).map(_.getPath.getName)
      // on an unpinned store: nothing published, nothing pinned
      assert(upsert(none, store, "e0").count() == 0, sub)
      assert(visible.isEmpty, s"$sub: an empty first batch must publish no commit")
      assert(!new java.io.File(s"$store/$marker").exists(),
        s"$sub: an empty first batch must not pin a model")
      // on a pinned store: the visible commit set is unchanged
      assert(upsert(corpus, store, "b0").count() > 0, sub)
      assert(upsert(none, store, "e1").count() == 0, sub)
      assert(visible == Seq("batch=b0"), s"$sub: an empty batch must publish no commit")
      assert(!new java.io.File(s"$store/$sub/batch=e1").exists(), sub)
    }
  }

  test("tombstone delete masks immediately, compaction drops exactly the victim and retires") {
    import spark.implicits._
    val corpus = SimilaritySearch.plantedNeighborCorpus(emb)
    val queries = corpus.filter(col("vec_id") < 10)
    val store = java.nio.file.Files.createTempDirectory("sqd").toString
    (0 until 3).foreach(c => IvfSqStream.upsertStep(
      corpus.filter(pmod(col("vec_id"), lit(3)) === c), store,
      dim = 64, nlist = 16, seed = 41L, batchTag = s"b$c"))
    def neighbors(df: DataFrame): Set[Long] =
      df.select("neighbor_id").collect().map(_.getLong(0)).toSet
    def storedIds: Set[Long] =
      StoreCommits.readStore(spark, s"$store/sqvecs", SqCodec.schema,
          excludeTag = " none ", partCol = "ab", wanted = (0 until 64).toSet)
        .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSet
    val beforeSearch = IvfSqStream.searchStore(spark, store, queries, k = 5,
      nprobe = 10, rerank = 192)
    val victim = beforeSearch.filter(col("query_id") === 0 && col("rank") === 1)
      .collect()(0).getLong(1)
    assert(IvfSqStream.deleteStep(Seq(victim).toDF("vec_id"), store,
      batchTag = "d0") == 1L)
    assert(!neighbors(IvfSqStream.searchStore(spark, store, queries, k = 5,
      nprobe = 10, rerank = 192)).contains(victim),
      "deleted id returned pre-compaction")
    val rowsBefore = storedIds
    IvfSqStream.compactStore(spark, store)
    assert(storedIds == rowsBefore - victim,
      "compaction must drop exactly the tombstoned id's rows")
    assert(StoreCommits.tombstoneCommits(spark, store).isEmpty,
      "applied tombstones must retire")
    assert(!neighbors(IvfSqStream.searchStore(spark, store, queries, k = 5,
      nprobe = 10, rerank = 192)).contains(victim),
      "deleted id returned post-compaction")
  }

  /** Synthetic PROTOTYPE clusters (the Round15StreamSpec drift
    * fixture): a model fit on family A compresses family-A ticks
    * almost perfectly; a family-B tick's residuals fall outside the
    * trained per-dim bounds, clamp at encode, and the reconstruction
    * monitor is unmistakably drifted. */
  private def protoVecs(n: Int, offset: Long, seed: Int): DataFrame = {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    (0L until n.toLong).map { i =>
      val k = (i % 16).toInt
      val v = Array.tabulate(64) { t =>
        val h = (k * 1000003L + t * 7919L + seed * 104729L) * 2654435761L
        val proto = (((h >>> 16) % 13L) - 6L).toDouble
        val jitter = (((i * 13 + t) % 7) - 3) * 0.01
        (proto + jitter).toFloat
      }
      (offset + i, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("drift auto-refit at the 2.0 default: exactly one refit; answers correct through it") {
    val store = java.nio.file.Files.createTempDirectory("sqdrift").toString
    def ratioOf(mon: DataFrame): Double = {
      val r = mon.agg(sum(col("members")).as("n"),
        sum(col("members") * col("mean_code_err")).as("w")).collect()(0)
      val mean = if (r.isNullAt(0) || r.getLong(0) == 0L) 0.0
        else r.getDouble(1) / r.getLong(0)
      val src = scala.io.Source.fromFile(s"$store/_IVFSQ")
      val base = try src.getLines().find(_.startsWith("baseline "))
        .map(_.stripPrefix("baseline ").toDouble).getOrElse(-1.0)
      finally src.close()
      mean / base
    }
    var ratios = List.empty[Double]
    def tick(batch: DataFrame, tag: String): Boolean = {
      val mon = IvfSqStream.upsertStep(batch, store,
        dim = 64, nlist = 32, seed = 41L, batchTag = tag)
      ratios :+= ratioOf(mon)
      // the start() default factor (2.0 — see the knob's rationale:
      // clamp-inflated held-out bands on weak-structure corpora)
      IvfSqStream.maybeRefitOnDrift(spark, store, mon, factor = 2.0,
        cooldownCommits = 1) // threshold logic in isolation
    }
    val f1 = tick(protoVecs(320, 0L, seed = 1), "t1") // fit+pin; baseline
    val f2 = tick(protoVecs(160, 1000000L, seed = 1), "t2") // same family
    val f3 = tick(protoVecs(160, 2000000L, seed = 5), "t3") // drifted → refit
    val f4 = tick(protoVecs(160, 3000000L, seed = 5), "t4") // re-pinned
    assert(Seq(f1, f2, f3, f4) == Seq(false, false, true, false),
      s"refit pattern was ${Seq(f1, f2, f3, f4)}")
    // the margin the default rests on: the structured-family shift
    // clears 2.0 decisively while the same-family tick sits near 1
    assert(ratios(1) < 1.5, s"stationary ratio ${ratios(1)} not in band")
    assert(ratios(2) > 2.0, s"shift ratio ${ratios(2)} must clear the default")
    // nprobe = nlist and rerank ≥ store size → the exact re-rank sees
    // every stored vector → must equal brute force over everything
    val all = protoVecs(320, 0L, 1).union(protoVecs(160, 1000000L, 1))
      .union(protoVecs(160, 2000000L, 5)).union(protoVecs(160, 3000000L, 5))
    val queries = protoVecs(320, 0L, 1).filter(col("vec_id") < 10)
    val got = resultSet(
      IvfSqStream.searchStore(spark, store, queries, k = 5,
          nprobe = 32, rerank = 65536)
        .select("query_id", "neighbor_id", "rank"))
    val brute = resultSet(
      SimilaritySearch.bruteForceTopK(queries, all, k = 5)
        .select("query_id", "neighbor_id", "rank"))
    assert(got == brute && got.nonEmpty, "post-refit store must answer exactly")
    // the streaming entry exposes the knob (compile-time pin)
    val sig = IvfSqStream.getClass.getMethods.find(_.getName == "start").get
    assert(sig.getParameterTypes.exists(_ == classOf[Double]))
  }

  test("start: vector files in, durable searchable quantized index; marker round-trips bounds; q109 = q108") {
    val root = java.nio.file.Files.createTempDirectory("sqw").toString
    val vecsDir = s"$root/vecs"
    new java.io.File(vecsDir).mkdirs()
    val corpus = SimilaritySearch.plantedNeighborCorpus(emb).cache()
    def stage(name: String, c: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      corpus.filter(pmod(col("vec_id"), lit(3)) === c)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$vecsDir/$name.parquet"))
      ()
    }
    val schema = corpus.schema
    def tick(): Unit = {
      val q = IvfSqStream.start(spark, vecsDir, schema, s"$root/store",
        s"$root/ckpt", dim = 64, nlist = 16, seed = 41L,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        compactEvery = 2)
      q.awaitTermination()
    }
    stage("v0", 0L); tick()
    stage("v1", 1L); stage("v2", 2L); tick()
    val queries = corpus.filter(col("vec_id") < 10)
    val streamed = searchSet(s"$root/store", queries)
    val brute = resultSet(SimilaritySearch.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id", "rank"))
    assert(streamed == brute, "files-in stream must serve the planted top-5")
    corpus.unpersist()

    // marker round-trip: head + 16 coarse rows + BOTH bound rows
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/store/_IVFSQ")), "UTF-8")
    val lines = text.split('\n')
    assert(lines.head == "64/16/41")
    assert(lines.count(_.startsWith("coarse ")) == 16)
    assert(lines.count(_.startsWith("vmin ")) == 1)
    assert(lines.count(_.startsWith("vstep ")) == 1)
    assert(lines.count(_.startsWith("baseline ")) == 1)

    // q109: the registered query equals the q108 one-shot gate
    val a = resultSet(graft.queries.OpsQueries.q109IvfSqStream(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("int")))
    val b = resultSet(graft.queries.OpsQueries.q108IvfSqTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("int")))
    assert(a == b && a.nonEmpty, s"q109 ${a.size} != q108 ${b.size}")
  }
}

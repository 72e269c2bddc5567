package graft.streaming

import graft.SparkSpec
import graft.ops.SimilaritySearch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The durable incremental IVF store ([[IvfStream]]) against the batch
  * build/search split it must equal: incremental accretion under a
  * pinned quantizer answers bit-identically to the one-shot
  * [[SimilaritySearch.ivfBuild]] with the same centroids; replay is
  * idempotent; config drift dies loudly; compaction is transparent;
  * REFIT (the drift remediation) swaps quantizer + assignment
  * atomically, including across a simulated mid-swap crash. */
class IvfStreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb: DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")

  private def resultSet(df: DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def searchSet(store: String, queries: DataFrame,
      nprobe: Int = 8): Set[(Long, Long, Int)] =
    resultSet(IvfStream.searchStore(spark, store, queries, k = 5, nprobe = nprobe)
      .select("query_id", "neighbor_id", "rank"))

  test("3-tick accretion = one-shot ivfBuild under the same pinned quantizer") {
    val corpus = SimilaritySearch.plantedNeighborCorpus(emb)
    val queries = corpus.filter(col("vec_id") < 10)
    val storeA = java.nio.file.Files.createTempDirectory("ivfa").toString
    (0 until 3).foreach { c =>
      IvfStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(3)) === c),
        storeA, dim = 64, nlist = 16, seed = 13L, batchTag = s"a$c")
    }
    // store B: the SAME quantizer pre-pinned, whole corpus in ONE
    // upsert — accretion must be answer-transparent
    val storeB = java.nio.file.Files.createTempDirectory("ivfb").toString
    IvfStream.pinCentroids(spark, storeB, dim = 64, nlist = 16, seed = 13L,
      IvfStream.loadCentroids(spark, storeA))
    IvfStream.upsertStep(corpus, storeB, dim = 64, nlist = 16, seed = 13L,
      batchTag = "all")
    val a = searchSet(storeA, queries)
    val b = searchSet(storeB, queries)
    assert(a == b && a.nonEmpty, s"accreted ${a.size} != one-shot ${b.size}")
    // and on the planted corpus both equal brute force (the q30 gate)
    val brute = resultSet(SimilaritySearch.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "neighbor_id", "rank"))
    assert(a == brute, "planted top-5 must equal brute force")
  }

  test("drift monitor, replay idempotence, config drift, compaction transparency") {
    val corpus = SimilaritySearch.plantedNeighborCorpus(emb)
    val queries = corpus.filter(col("vec_id") < 10)
    val store = java.nio.file.Files.createTempDirectory("ivfc").toString
    val monitors = (0 until 3).map { c =>
      IvfStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(3)) === c),
        store, dim = 64, nlist = 16, seed = 13L, batchTag = s"b$c")
    }
    // the drift monitor reports per-cell occupancy + mean distance
    val m0 = monitors.head.collect()
    assert(m0.nonEmpty && m0.forall(_.getDouble(2) > 0.0),
      "mean_dist must be positive on real vectors")
    val expected = searchSet(store, queries)
    assert(expected.size == 50)

    def commits = new java.io.File(s"$store/ivfvecs").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
    val before = commits
    IvfStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(3)) === 1L),
      store, dim = 64, nlist = 16, seed = 13L, batchTag = "b1")
    assert(commits == before, "replay must not add a commit")
    assert(searchSet(store, queries) == expected)

    intercept[IllegalArgumentException] {
      IvfStream.upsertStep(corpus.limit(1), store,
        dim = 64, nlist = 8, seed = 13L, batchTag = "drift")
    }
    intercept[IllegalArgumentException] {
      IvfStream.searchStore(spark, "/tmp/not-an-ivf-store", queries, k = 5)
    }

    IvfStream.compactStore(spark, store, gcGraceMs = 0L)
    // generation grace, then physical collection (gcGraceMs = 0 pins
    // the deterministic count path; the production default is timed)
    assert(commits.size == 4 && commits.exists(_.startsWith("batch=compact-")))
    assert(searchSet(store, queries) == expected)
    IvfStream.compactStore(spark, store, gcGraceMs = 0L)
    val folded = commits
    assert(folded.size == 1 && folded.head.startsWith("batch=compact-"), folded)
    assert(searchSet(store, queries) == expected)
  }

  test("refit-as-compaction: quantizer + assignment swap atomically; answers preserved") {
    val corpus = SimilaritySearch.plantedNeighborCorpus(emb)
    val queries = corpus.filter(col("vec_id") < 10)
    val store = java.nio.file.Files.createTempDirectory("ivfr").toString
    // seed the quantizer from a deliberately SKEWED first tick (only
    // vec_id ≡ 0 mod 3) so the refit has something to improve
    (0 until 3).foreach { c =>
      IvfStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(3)) === c),
        store, dim = 64, nlist = 16, seed = 13L, batchTag = s"r$c")
    }
    val expected = searchSet(store, queries)
    val centsBefore = IvfStream.loadCentroids(spark, store)
    IvfStream.compactStore(spark, store, refit = true)
    val centsAfter = IvfStream.loadCentroids(spark, store)
    assert(!centsBefore.flatMap(_.toSeq).sameElements(centsAfter.flatMap(_.toSeq)),
      "refit must actually move the quantizer (whole-store sample ≠ first tick)")
    assert(!new java.io.File(s"$store/_IVF.pending").exists(),
      "pending marker must promote after the swap")
    // on the planted corpus the answer is quantizer-independent at
    // nprobe 8 — a refit must preserve it
    assert(searchSet(store, queries) == expected)
    // post-refit upserts assign against the NEW quantizer and keep
    // answering correctly
    IvfStream.upsertStep(
      emb.filter(col("vec_id") >= 20 && col("vec_id") < 120)
        .select((col("vec_id") + lit(5000000L)).as("vec_id"), col("embedding")),
      store, dim = 64, nlist = 16, seed = 13L, batchTag = "post")
    assert(searchSet(store, queries) == expected,
      "distractor duplicates must not perturb the planted top-5")
  }

  test("mid-refit crash windows heal: dead-letter pending ignored, post-swap pending promoted") {
    val corpus = SimilaritySearch.plantedNeighborCorpus(emb)
    val queries = corpus.filter(col("vec_id") < 10)
    val store = java.nio.file.Files.createTempDirectory("ivfx").toString
    (0 until 2).foreach { c =>
      IvfStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(2)) === c),
        store, dim = 64, nlist = 16, seed = 13L, batchTag = s"x$c")
    }
    val expected = searchSet(store, queries)
    val good = IvfStream.loadCentroids(spark, store)

    // CRASH BEFORE THE SWAP: a pending file whose target never became
    // visible is a dead letter — readers and writers stay on _IVF
    val deadMeta = IvfCodec.pin(Seq(64L, 16L, 13L),
      good.map(_.map(_ + 100.0)), Some("batch=refit-never-happened"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$store/_IVF.pending"),
      deadMeta.render.getBytes("UTF-8"))
    assert(IvfStream.loadCentroids(spark, store).flatMap(_.toSeq)
      .sameElements(good.flatMap(_.toSeq)), "dead-letter pending must be ignored")
    assert(searchSet(store, queries) == expected)
    // a writer (a true replay of tick x0) must also not adopt the junk
    IvfStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(2)) === 0L), store,
      dim = 64, nlist = 16, seed = 13L, batchTag = "x0")
    assert(searchSet(store, queries) == expected)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$store/_IVF.pending"))

    // CRASH AFTER THE SWAP, BEFORE PROMOTION: rebuild the window by
    // hand — run a real refit, then restore the pre-promotion state
    // (pending naming the NOW-VISIBLE refit commit, stale _IVF)
    IvfStream.compactStore(spark, store, refit = true)
    val refitted = IvfStream.loadCentroids(spark, store)
    val visibleNow = new java.io.File(s"$store/ivfvecs").listFiles()
      .map(_.getName).filter(_.startsWith("batch=refit-")).head
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$store/_IVF.pending"),
      IvfCodec.pin(Seq(64L, 16L, 13L), refitted, Some(visibleNow))
        .render.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$store/_IVF"),
      IvfCodec.pin(Seq(64L, 16L, 13L), good, None).render.getBytes("UTF-8"))
    // a reader already serves the post-swap truth…
    assert(IvfStream.loadCentroids(spark, store).flatMap(_.toSeq)
      .sameElements(refitted.flatMap(_.toSeq)), "post-swap pending is the truth")
    assert(searchSet(store, queries) == expected)
    // …and the next writer (another true replay) finishes the promotion
    IvfStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(2)) === 0L), store,
      dim = 64, nlist = 16, seed = 13L, batchTag = "x0")
    assert(!new java.io.File(s"$store/_IVF.pending").exists(),
      "a writer must complete the crashed promotion")
    assert(searchSet(store, queries) == expected)
  }

  test("search during a promotion's vanished-marker window resolves the post-swap pending") {
    // a refit promotion replaces _IVF by delete-then-rename; hold that
    // window open: _IVF absent, _IVF.pending naming the visible refit
    // commit. The search must resolve the model through the pending file,
    // not fail on the missing marker.
    val corpus = SimilaritySearch.plantedNeighborCorpus(emb)
    val queries = corpus.filter(col("vec_id") < 10)
    val store = java.nio.file.Files.createTempDirectory("ivfw").toString
    (0 until 2).foreach { c =>
      IvfStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(2)) === c),
        store, dim = 64, nlist = 16, seed = 13L, batchTag = s"w$c")
    }
    IvfStream.compactStore(spark, store, refit = true)
    val expected = searchSet(store, queries)
    assert(expected.size == 50)
    val visibleNow = new java.io.File(s"$store/ivfvecs").listFiles()
      .map(_.getName).filter(_.startsWith("batch=refit-")).head
    val marker = java.nio.file.Paths.get(s"$store/_IVF")
    val promoted = IvfCodec.parse(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$store/_IVF.pending"),
      promoted.copy(target = Some(visibleNow)).render.getBytes("UTF-8"))
    java.nio.file.Files.delete(marker)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$store/._IVF.crc"))
    assert(searchSet(store, queries) == expected)
  }

  test("concurrent searcher through upserts, compactions AND refits: every read complete and correct") {
    // the hard case for the snapshot bracket: a refit swaps quantizer
    // AND assignment mid-search-planning; a reader pruning
    // new-assignment rows with old centroids would miss neighbors. On
    // the planted corpus the correct answer is refit-invariant at
    // nprobe 8, so any torn generation shows up as a wrong set or an
    // IO error in the searcher thread.
    val corpus = SimilaritySearch.plantedNeighborCorpus(emb)
    val store = java.nio.file.Files.createTempDirectory("ivfcc").toString
    (0 until 3).foreach { c =>
      IvfStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(3)) === c),
        store, dim = 64, nlist = 16, seed = 13L, batchTag = s"c$c")
    }
    IvfStream.compactStore(spark, store)
    val queries = corpus.filter(col("vec_id") < 10)
    val expected = searchSet(store, queries)
    assert(expected.size == 50)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var searcherFailure: Option[Throwable] = None
    val searcher = new Thread(() =>
      try while (!stop.get()) {
        val got = searchSet(store, queries)
        if (got != expected)
          throw new AssertionError(s"concurrent read diverged: " +
            s"${got.diff(expected).take(3)} / ${expected.diff(got).take(3)}")
        reads.incrementAndGet(); ()
      } catch { case t: Throwable => searcherFailure = Some(t) })
    searcher.setDaemon(true)
    searcher.start()
    try {
      val distractors = emb.filter(col("vec_id") >= 20 && col("vec_id") < 120)
      (0 until 4).foreach { i =>
        IvfStream.upsertStep(
          distractors.select((col("vec_id") + lit((i + 1) * 1000000L)).as("vec_id"),
            col("embedding")),
          store, dim = 64, nlist = 16, seed = 13L, batchTag = s"w$i")
        IvfStream.compactStore(spark, store, refit = (i % 2 == 1))
      }
    } finally {
      // the correctness signal is searcherFailure; the READ COUNT is
      // only a liveness floor. Under full-suite load + host steal the
      // searcher thread can be starved while the writer loop runs, so
      // wait (bounded) for the floor instead of asserting a race
      // between two schedulers — a genuine divergence still fails via
      // searcherFailure regardless of timing.
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (reads.get() < 3 && searcherFailure.isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(200)
      stop.set(true); searcher.join(120000)
    }
    searcherFailure.foreach(t => fail(s"searcher failed mid-refit: $t", t))
    println(s"IVF_CONCURRENT reads=${reads.get()} writes=4 compactions=4 " +
      "refits=2 all_correct=true")
    assert(reads.get() >= 3, s"searcher completed only ${reads.get()} reads")
    assert(searchSet(store, queries) == expected)
  }

  test("q102: the registered incremental-IVF query equals the q30 one-shot gate") {
    val a = resultSet(graft.queries.OpsQueries.q102IvfStream(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("int")))
    val b = resultSet(graft.queries.OpsQueries.q30IvfTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("int")))
    assert(a == b && a.nonEmpty, s"q102 ${a.size} != q30 ${b.size}")
  }
}

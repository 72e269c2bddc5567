package graft.streaming

import graft.SparkSpec
import graft.ops.{MediaSynth, Multimodal, SimilaritySearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-15 behaviors:
  *   - drift-triggered AUTO-REFIT: `maybeRefitOnDrift` (the consumer of
  *     the upsert drift monitors, wired into both `start()` entries)
  *     fires `compactStore(refit = true)` exactly once on a genuinely
  *     drifted tick — never on a same-distribution tick, never again
  *     after the refit re-pins models + baseline — and search answers
  *     stay correct through the refit;
  *   - the CELL-INDEXED ADC pass: the `touches` counter proves each
  *     stored row's work is bounded by the queries probing ITS cell
  *     (counted == Σ_cells members(cell)·queriesProbing(cell)), not
  *     O(rows × nq);
  *   - EMPTY first micro-batch no-ops instead of crashing the quantizer
  *     fit (replay edge);
  *   - WAV `n_units` is the exact per-channel sample count from the
  *     data chunk (dataLen/blockAlign), not a double-floored
  *     durationMs reconstruction. */
class Round15StreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb: DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")

  private def resultSet(df: DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  /** Synthetic PROTOTYPE clusters — the structure a drift test needs:
    * 16 well-separated prototypes per family (`seed` picks the family)
    * — nlist 32 in the tests covers BOTH families post-refit —
    * with a small deterministic jitter, so a quantizer fit on family A
    * compresses family-A ticks almost perfectly (tiny mean_dist /
    * mean_code_err) and a family-B tick is unmistakably drifted. */
  private def protoVecs(n: Int, offset: Long, seed: Int): DataFrame = {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    (0L until n.toLong).map { i =>
      val k = (i % 16).toInt
      val v = Array.tabulate(64) { t =>
        // multiplicative mixing so different seeds yield UNRELATED
        // prototype families (a linear k·a+t·b+seed form mod m only
        // re-indexes the same prototype set across seeds)
        val h = (k * 1000003L + t * 7919L + seed * 104729L) * 2654435761L
        val proto = (((h >>> 16) % 13L) - 6L).toDouble
        val jitter = (((i * 13 + t) % 7) - 3) * 0.01
        (proto + jitter).toFloat
      }
      (offset + i, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("IVF drift auto-refit: exactly one refit on the drifted tick; answers correct through it") {
    val store = java.nio.file.Files.createTempDirectory("ivfdrift").toString
    val factor = 2.0
    def tick(batch: DataFrame, tag: String): Boolean = {
      val mon = IvfStream.upsertStep(batch, store,
        dim = 64, nlist = 32, seed = 13L, batchTag = tag)
      IvfStream.maybeRefitOnDrift(spark, store, mon, factor,
        cooldownCommits = 1) // threshold logic in isolation; cooldown spec'd separately
    }
    val f1 = tick(protoVecs(320, 0L, seed = 1), "t1") // fit+pin; baseline in _IVF
    val f2 = tick(protoVecs(160, 1000000L, seed = 1), "t2") // same family
    val f3 = tick(protoVecs(160, 2000000L, seed = 5), "t3") // drifted → refit
    val f4 = tick(protoVecs(160, 3000000L, seed = 5), "t4") // post-refit: re-pinned
    assert(Seq(f1, f2, f3, f4) == Seq(false, false, true, false),
      s"refit pattern was ${Seq(f1, f2, f3, f4)}")
    // answers correct THROUGH the refit: with every cell probed the
    // candidate set is the whole store, so top-5 must equal brute
    // force over everything upserted
    val all = protoVecs(320, 0L, 1).union(protoVecs(160, 1000000L, 1))
      .union(protoVecs(160, 2000000L, 5)).union(protoVecs(160, 3000000L, 5))
    val queries = protoVecs(320, 0L, 1).filter(col("vec_id") < 10)
    val got = resultSet(
      IvfStream.searchStore(spark, store, queries, k = 5, nprobe = 32)
        .select("query_id", "neighbor_id", "rank"))
    val brute = resultSet(
      SimilaritySearch.bruteForceTopK(queries, all, k = 5)
        .select("query_id", "neighbor_id", "rank"))
    assert(got == brute && got.nonEmpty, "post-refit store must answer exactly")
    // the streaming entry exposes the knob (compile-time pin)
    val sig = IvfStream.getClass.getMethods.find(_.getName == "start").get
    assert(sig.getParameterTypes.exists(_ == classOf[Double]))
  }

  test("IVF-PQ drift auto-refit: exactly one refit; exact-rerank answers correct through it") {
    val store = java.nio.file.Files.createTempDirectory("pqdrift").toString
    val factor = 1.5
    def tick(batch: DataFrame, tag: String): Boolean = {
      val mon = IvfPqStream.upsertStep(batch, store,
        dim = 64, nlist = 32, m = 8, seed = 37L, batchTag = tag)
      IvfPqStream.maybeRefitOnDrift(spark, store, mon, factor,
        cooldownCommits = 1) // threshold logic in isolation; cooldown spec'd separately
    }
    val f1 = tick(protoVecs(320, 0L, seed = 1), "t1")
    val f2 = tick(protoVecs(160, 1000000L, seed = 1), "t2")
    val f3 = tick(protoVecs(160, 2000000L, seed = 5), "t3")
    val f4 = tick(protoVecs(160, 3000000L, seed = 5), "t4")
    assert(Seq(f1, f2, f3, f4) == Seq(false, false, true, false),
      s"refit pattern was ${Seq(f1, f2, f3, f4)}")
    // nprobe = nlist and rerank ≥ store size → the exact re-rank sees
    // every stored vector → must equal brute force over everything
    val all = protoVecs(320, 0L, 1).union(protoVecs(160, 1000000L, 1))
      .union(protoVecs(160, 2000000L, 5)).union(protoVecs(160, 3000000L, 5))
    val queries = protoVecs(320, 0L, 1).filter(col("vec_id") < 10)
    val got = resultSet(
      IvfPqStream.searchStore(spark, store, queries, k = 5,
          nprobe = 32, rerank = 65536)
        .select("query_id", "neighbor_id", "rank"))
    val brute = resultSet(
      SimilaritySearch.bruteForceTopK(queries, all, k = 5)
        .select("query_id", "neighbor_id", "rank"))
    assert(got == brute && got.nonEmpty, "post-refit store must answer exactly")
  }

  test("refit cooldown (round 16): a refit re-arms only after cooldownCommits ticks") {
    // a persistent shift refits on the WHOLE store, so while the new
    // regime is a mixture minority the monitor keeps firing — the
    // cooldown (visible-commit distance from the last fold) bounds the
    // full-store refit rate; suppressed ticks return false and the
    // store stays correct
    val store = java.nio.file.Files.createTempDirectory("ivfcool").toString
    val factor = 2.0
    def tick(batch: DataFrame, tag: String, cooldown: Int): Boolean = {
      val mon = IvfStream.upsertStep(batch, store,
        dim = 64, nlist = 32, seed = 13L, batchTag = tag)
      IvfStream.maybeRefitOnDrift(spark, store, mon, factor, cooldown)
    }
    val fires = Seq(
      tick(protoVecs(320, 0L, seed = 1), "t1", 3),       // fit+pin
      tick(protoVecs(160, 1000000L, seed = 1), "t2", 3), // stationary
      tick(protoVecs(160, 2000000L, seed = 5), "t3", 3), // drift, 3 commits ≥ 3 → fires
      tick(protoVecs(160, 3000000L, seed = 9), "t4", 3), // drift again, 2 commits < 3 → SUPPRESSED
      tick(protoVecs(160, 4000000L, seed = 9), "t5", 3), // 3 commits ≥ 3 → re-arms
      tick(protoVecs(160, 5000000L, seed = 9), "t6", 3)) // re-pinned on seed 9 → quiet
    assert(fires == Seq(false, false, true, false, true, false),
      s"cooldown pattern was $fires")
    // correctness through suppressed-refit ticks: full-probe search
    // still equals brute force over everything upserted
    val all = protoVecs(320, 0L, 1).union(protoVecs(160, 1000000L, 1))
      .union(protoVecs(160, 2000000L, 5)).union(protoVecs(160, 3000000L, 9))
      .union(protoVecs(160, 4000000L, 9)).union(protoVecs(160, 5000000L, 9))
    val queries = protoVecs(320, 0L, 1).filter(col("vec_id") < 10)
    val got = resultSet(
      IvfStream.searchStore(spark, store, queries, k = 5, nprobe = 32)
        .select("query_id", "neighbor_id", "rank"))
    val brute = resultSet(
      SimilaritySearch.bruteForceTopK(queries, all, k = 5)
        .select("query_id", "neighbor_id", "rank"))
    assert(got == brute && got.nonEmpty,
      "store must answer exactly through suppressed and re-armed refits")
  }

  test("cell-indexed ADC: touches == Σ members(cell)·queriesProbing(cell), far under rows×nq") {
    val corpus = SimilaritySearch.plantedNeighborCorpus(emb)
    val store = java.nio.file.Files.createTempDirectory("pqtouch").toString
    (0 until 3).foreach { c =>
      IvfPqStream.upsertStep(corpus.filter(pmod(col("vec_id"), lit(3)) === c),
        store, dim = 64, nlist = 16, m = 8, seed = 37L, batchTag = s"a$c")
    }
    IvfPqStream.compactStore(spark, store)
    // grace gen collected (gcGraceMs = 0: the expected-touches count
    // below reads the store files RAW, so retired dirs must be gone)
    IvfPqStream.compactStore(spark, store, gcGraceMs = 0L)
    val queries = corpus.filter(col("vec_id") < 40)
    val nprobe = 2
    val acc = spark.sparkContext.longAccumulator("adcTouches")
    val res = IvfPqStream.searchStore(spark, store, queries, k = 5,
      nprobe = nprobe, rerank = 32, touches = Some(acc))
    assert(res.collect().nonEmpty)
    // expected: replicate the probe contract (unit query, L2-to-cell
    // sort, stable ties — SimilaritySearch.adcByCell) and count
    // (row, query) pairs where the query probes the row's cell
    val coarse = IvfPqStream.loadCoarse(spark, store)
    val probedPerCell = new Array[Long](coarse.length)
    queries.select(col("vec_id").cast("long"), col("embedding")).collect()
      .foreach { r =>
        val qv = VectorCodec.unitOf(r.getSeq[Float](1))
        val dists = coarse.map { cc =>
          var d = 0.0; var t = 0
          while (t < qv.length) { val df = qv(t) - cc(t); d += df * df; t += 1 }
          d
        }
        coarse.indices.sortBy(ci => dists(ci)).take(nprobe)
          .foreach(c => probedPerCell(c) += 1)
      }
    val cellCounts = spark.read
      .schema("neighbor_id long, cell int")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$store/pqvecs")
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expected = cellCounts.map { case (c, n) => n * probedPerCell(c) }.sum
    val rows = cellCounts.values.sum
    val nq = 40L
    assert(acc.value == expected,
      s"touches ${acc.value} != per-cell expectation $expected")
    assert(expected < rows * nq / 3,
      s"cell indexing should cut far below rows×nq = ${rows * nq} (got $expected)")
  }

  test("empty first micro-batch no-ops on both refitting stores (replay edge)") {
    val none = emb.filter(col("vec_id") < 0)
    val some = emb.filter(col("vec_id") < 200)
    val s1 = java.nio.file.Files.createTempDirectory("ivfempty").toString
    val m1 = IvfStream.upsertStep(none, s1, dim = 64, batchTag = "e0")
    assert(m1.collect().isEmpty, "empty tick yields an empty monitor")
    assert(!new java.io.File(s"$s1/_IVF").exists, "store stays unpinned")
    IvfStream.upsertStep(some, s1, dim = 64, batchTag = "e1")
    assert(IvfStream.searchStore(spark, s1,
      emb.filter(col("vec_id") < 5), k = 3, nprobe = 16).count() > 0)
    val s2 = java.nio.file.Files.createTempDirectory("pqempty").toString
    val m2 = IvfPqStream.upsertStep(none, s2, dim = 64, batchTag = "e0")
    assert(m2.collect().isEmpty)
    assert(!new java.io.File(s"$s2/_IVFPQ").exists, "store stays unpinned")
    IvfPqStream.upsertStep(some, s2, dim = 64, batchTag = "e1")
    assert(IvfPqStream.searchStore(spark, s2,
      emb.filter(col("vec_id") < 5), k = 3, nprobe = 16).count() > 0)
  }

  test("WAV n_units is the exact per-channel sample count (500 @ 8 kHz, not 496)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val empty = Multimodal.MediaMeta(0, 0, 0L, 0, "?")
    val assets = Seq(
      Multimodal.MediaAsset(1L, "audio", MediaSynth.wavPcm16(8000, 500, 7), empty))
      .toDS()
    val i = Multimodal.decodeAudioInfo(assets).collect().head
    assert(i.n_units == 500L, s"got ${i.n_units}")
    assert(i.duration_ms == 500L * 1000 / 8000, s"got ${i.duration_ms}")
  }
}

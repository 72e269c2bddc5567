package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{AsOfJoin, Bpe, Cdc, ConnectedComponents, Corpus, Dedup, KMeans, PageRank, Pca, QualityClassifier, RangeJoin, SimilaritySearch, TextAnalysis}

/** The training-data-pipeline operators (SURVEY extended surface) as
  * driver-checkable queries over the documents/embeddings tables. */
object OpsQueries {
  import Queries.table

  /** The documents table with [[Queries.parallelFloor]] applied — used
    * by the queries whose dominant cost is per-character work in the
    * scan stage (shingling, window hashing, chunking), which a
    * one-row-group input would otherwise serialize onto one core. */
  private def docsPar(spark: SparkSession, dir: String): DataFrame =
    Queries.parallelFloor(table(spark, dir, "documents"))

  /** Materializes `df` into a temp parquet store and returns a
    * lineage-free read of it — the q97 cache contract: queries that
    * persist intermediates write their final plan here, release the
    * blocks, and hand the caller a plan that holds no cached state.
    * The temp dir is removed at JVM exit (the caller's hash pass may
    * still be reading it), never during the process. */
  private def materializeViaTemp(df: DataFrame, prefix: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory(prefix).toString
    scala.sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(out))
    }
    df.write.mode("overwrite").parquet(out)
    df.sparkSession.read.parquet(out)
  }

  /** Token counting + BPE estimate (integer-exact, oracle-matched). */
  def q13DocTokens(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_actual"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeTokenEstimate(col("text")).as("n_bpe_tokens"))

  /** Quality scoring: stopword occurrence counts (integer-exact). */
  def q14TextQuality(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.wordOccurrences(col("text"), "the").as("n_stopword_the"),
        TextAnalysis.wordOccurrences(col("text"), "a").as("n_stopword_a"),
        TextAnalysis.wordOccurrences(col("text"), "spark").as("n_word_spark"))

  /** Exact dedup via content hash (md5 identical in both engines). */
  def q15ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(table(spark, dir, "documents"))

  /** Pairwise word-bigram Jaccard within each source shard (blocked
    * near-dup sweep), integer intersection/union counts, pairs sharing
    * ≥ 8 bigrams. Cross-shard dedup is q17's MinHash-LSH. */
  def q16NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docsPar(spark, dir), n = 2, minIntersect = 8,
      blockCol = Some("source"))

  /** MinHash+LSH near-dup candidates (bigram shingles) verified at
    * Jaccard ≥ 0.5 — HASH-CHECKED against the exact global sweep: the
    * exact verify gives precision 1 by construction, and banding
    * recall is exactly 1 on this corpus (DeterminismProbe: true pairs
    * sit at Jaccard ≥ 0.82–0.91 where the 32×2 banding miss
    * probability is ~1e-20, and NO pair lies in [0.45, 0.5)), so the
    * registered output EQUALS the DuckDB oracle's exact-Jaccard pair
    * set. The recall spec in MinHashSpec stays as the second gate. */
  def q17MinhashPairs(spark: SparkSession, dir: String): DataFrame =
    // 32 bands × 2 rows: ~99.99% single-collision banding recall at
    // j=0.5 (16×4 would miss ~36% of pairs sitting exactly at the
    // threshold); the estimator gate + exact verify keep precision
    // regardless. minBandCollisions=2 trades that to ~99.9% at exactly
    // j=0.5 (unchanged ≥0.6) for ~22× fewer candidates reaching the
    // estimator gate — measured 43.6M→2.0M on the sf1 rehearsal corpus
    // with the bit-identical verified pair set and a 5× end-to-end win
    // (57.4→11.3 s at sf1).
    Dedup.minhashDedupPairs(docsPar(spark, dir),
      n = 2, numHashes = 64, bands = 32, minJaccard = 0.5,
      minBandCollisions = 2)

  /** SimHash fingerprints — the PORTABLE (Karp-Rabin-hashed) variant
    * whose bit pattern is restatable in ANSI SQL, so the driver's
    * DuckDB oracle hash-checks every fingerprint (q76's near-dup sweep
    * consumes exactly this relation; [[Dedup.simhash]] is the
    * xxhash64 twin for engines that don't need cross-engine parity). */
  def q18Simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPortable(docsPar(spark, dir))

  /** Brute-force cosine top-5 for the first 10 vectors (exact baseline). */
  def q19CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    SimilaritySearch.bruteForceTopK(
      emb.filter(col("vec_id") < 10), emb, k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** The planted-neighbor ANN benchmark relation shared by the
    * q20/q30/q45/q65 tiers and q53: the full embeddings corpus as
    * distractors plus 5 deterministic near-copies per query vector
    * ([[SimilaritySearch.plantedNeighborCorpus]]). Planted copies sit
    * at cosine ≥ 0.9987 against a distractor ceiling ≤ 0.61
    * (DeterminismProbe), so every tier's top-5 provably equals brute
    * force — which is what lets approximate ANN carry a hash-checked
    * DuckDB oracle while still exercising its real bucketed /
    * cell-probed / code-quantized path. The raw-corpus recall numbers
    * (the weak-structure regime) remain in RECALL.md + Recall specs. */
  private def annCorpus(spark: SparkSession, dir: String): DataFrame =
    SimilaritySearch.plantedNeighborCorpus(table(spark, dir, "embeddings"))

  /** LSH-bucketed ANN top-5 over the planted-neighbor corpus —
    * hash-checked against the brute-force oracle (recall provably 1 on
    * the planted structure; see [[annCorpus]]). */
  def q20LshTopK(spark: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(spark, dir)
    // 6 planes × 8 tables: the testdata embeddings are weakly
    // structured (within-label mean cos ≈ 0.06), so per-plane agreement
    // for true neighbors is ~0.65 — fewer planes + more tables is the
    // measured recall/candidates sweet spot (RECALL.md)
    SimilaritySearch.lshTopK(corpus.filter(col("vec_id") < 10), corpus, dim = 64, k = 5,
        planes = 6, tables = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** IVF ANN top-5 over the planted-neighbor corpus — hash-checked
    * against the brute-force oracle (see [[annCorpus]]). */
  def q30IvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(spark, dir)
    // nprobe 8/16: weak cluster structure spreads true neighbors across
    // cells, so recall tracks probe coverage — 8 cells is the measured
    // recall/cost knee on the testdata corpus (RECALL.md; a corpus with
    // real cluster structure runs nprobe 2-4 against a larger nlist)
    SimilaritySearch.ivfTopK(corpus.filter(col("vec_id") < 10), corpus, k = 5, nprobe = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** IVF-PQ fused ANN top-5 (coarse inverted lists + residual PQ codes
    * + ADC + exact re-rank — the production large-index layout) over
    * the planted-neighbor corpus — hash-checked against the
    * brute-force oracle (see [[annCorpus]]). */
  def q65IvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(spark, dir)
    // nprobe 10 + rerank 192: the fused tier compounds both coverage
    // losses (cell probe × code quantization), so both knobs open up —
    // measured knee on the testdata corpus (RECALL.md)
    SimilaritySearch.ivfPqTopK(corpus.filter(col("vec_id") < 10), corpus, dim = 64, k = 5,
        nprobe = 10, rerank = 192)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** IVF-SQ8 fused ANN top-5 (coarse inverted lists + one-byte-per-
    * dimension scalar-quantized residuals + exact re-rank — the
    * memory rung between IVF-flat and IVF-PQ) over the
    * planted-neighbor corpus — hash-checked against the brute-force
    * oracle (see [[annCorpus]]). Same open knobs as the q65 fused
    * tier: the cell probe is the recall-limiting stage and SQ8's
    * per-dimension codes keep quantization error an order below PQ's,
    * so the q65 rerank depth is comfortably sufficient. */
  def q108IvfSqTopK(spark: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(spark, dir)
    SimilaritySearch.ivfSqTopK(corpus.filter(col("vec_id") < 10), corpus,
        dim = 64, k = 5, nprobe = 10, rerank = 192)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** Unigram-LM perplexity quality scores (the CCNet KenLM filter at
    * order 1 — selection semantics with an exactly SQL-restatable
    * model, self-corpus MLE): low = looks like the corpus. */
  def q67UnigramPpl(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogPerplexity(table(spark, dir, "documents"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("logppl"), 6).as("logppl"))

  /** Exact-substring duplicate spans (Lee et al. 2022 ExactSubstr,
    * stride-1 rolling-hash restatement): maximal duplicated regions
    * ≥ 10 words at any alignment, integer-exact and fully
    * SQL-restatable (md5 windows) → DuckDB oracle. */
  def q66ExactSubstr(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstrSpans(docsPar(spark, dir), windowWords = 10)
      .select(col("id").as("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))

  /** The CLEANED corpus after exact-substring dedup — q66's spans
    * applied (duplicated regions cut out of the text, first
    * occurrences surviving by construction): the actual product of
    * Lee et al.'s ExactSubstr pipeline, deterministic string algebra
    * → DuckDB oracle. */
  def q68CleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    Dedup.applySubstrSpans(docs, Dedup.exactSubstrSpans(docs, windowWords = 10))
      .select(col("id").as("doc_id"), col("clean_text"), col("n_removed"))
  }

  /** As-of join: for each error event, the most recent click of the
    * same user at or before it (DuckDB's native ASOF JOIN is the
    * oracle). */
  def q31AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
    val clicks = ev.filter(col("event_type") === "click")
    AsOfJoin.lastRightAsOfLeft(errors, clicks,
        keyCol = "user_id", tsCol = "ts",
        leftIdCol = "event_id", rightIdCol = "event_id")
      .select(col("lid").as("error_id"), col("k").as("user_id"),
        col("asof_rid").as("last_click_id"))
  }

  /** Sessionization via gap-and-islands: a new session starts after a
    * 30-minute silence; per user emit session count and total events —
    * lag + conditional cumulative sum, the batch formulation of a
    * streaming session window. */
  def q32Sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Queries.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy("user_id")
      .agg(max(col("session_id")).cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** Exact percentiles per group (linear interpolation — identical
    * arithmetic in both engines). */
  def q33Percentiles(spark: SparkSession, dir: String): DataFrame =
    Queries.events(spark, dir)
      .groupBy("event_type")
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"))

  /** Heavy hitters via Misra-Gries sketch + exact verification: words
    * appearing in ≥ 1/50 of all token positions. The sketch (k=200,
    * 4× the guarantee margin) finds every candidate in O(k) memory per
    * partition; candidates are then counted exactly, so the final
    * output is deterministic and DuckDB-oracle-checkable. */
  def q34HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    def words = table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
    // one pass produces BOTH the total position count and the sketch —
    // no cache of the exploded token stream (a memory tax at scale),
    // and no second scan for the denominator
    val row = words
      .agg(count(lit(1)).as("total"),
        graft.functions.FreqItemsAgg.freqItems(col("word"), 200).as("cands"))
      .collect()(0)
    val total = row.getLong(0)
    val candidates = row.getSeq[String](1)
    words.filter(col("word").isInCollection(candidates))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(col("n") * 50 >= lit(total))
  }

  /** Multiway join (TPC-H Q10 shape): revenue from returned items per
    * customer/nation — 4 tables, Catalyst picks the join order, top-20
    * with unique-key tiebreak. */
  def q35ReturnedRevenue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val l = table(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = table(spark, dir, "orders")
    val c = table(spark, dir, "customer")
    val n = table(spark, dir, "nation")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(java.math.BigDecimal.ONE).cast(DecimalType(12, 2)) -
            col("l_discount").cast(DecimalType(12, 2))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** Correlated-subquery shape: orders priced above 2× their customer's
    * average (exact arithmetic via cross-multiplication — no division). */
  def q36AboveAvgOrders(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val o = table(spark, dir, "orders")
    val custAgg = o.groupBy(col("o_custkey").as("ck"))
      .agg(sum(col("o_totalprice").cast(DecimalType(12, 2))).as("sum_price"),
        count(lit(1)).as("n_orders"))
    o.join(custAgg, o("o_custkey") === custAgg("ck"))
      .filter(col("o_totalprice").cast(DecimalType(14, 2)) * col("n_orders") >
        col("sum_price") * 2)
      .select(col("o_orderkey"), col("o_custkey"))
  }

  /** Running-frame window: cumulative spend per user over event time
    * (rowsBetween unboundedPreceding..current), decimal-exact. */
  def q37RunningSum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Queries.events(spark, dir)
      .withColumn("running_value",
        sum(col("value").cast(DecimalType(12, 2))).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("running_value"))
  }

  /** Pivot: per-user event-type count matrix (groupBy.pivot in Spark,
    * portable CASE aggregation as the oracle). */
  def q38Pivot(spark: SparkSession, dir: String): DataFrame =
    Queries.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** Sliding-window aggregation with Spark's window() primitive
    * (2-hour windows, 1-hour slide — each event lands in two windows).
    * The oracle replicates the semantics by unioning the two shifted
    * window starts per event. */
  def q39SlidingWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Queries.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("n"), col("sum_value"))
  }

  /** n-gram language ID over documents. Deterministic integer scoring,
    * so DuckDB-oracled: the oracle SQL joins the same profile table
    * (interpolated from [[TextAnalysis.langProfiles]]). */
  def q21LangId(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang_pred"))

  /** Rolling-hash document fingerprints. DuckDB-oracled via a HUGEINT
    * restatement of the mod-2^64 polynomial. */
  def q22Fingerprint(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp64"))

  /** Generator (UDTF-analog) coverage: explode the token stream and
    * rank the vocabulary — top 100 words by frequency, deterministic
    * tiebreak on the word. */
  def q27VocabTopK(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(100)

  /** Rollup coverage (§2.5 extension): revenue by region/nation with
    * subtotals and a grand total. */
  def q28Rollup(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    val n = table(spark, dir, "nation")
    val r = table(spark, dir, "region")
    import org.apache.spark.sql.types.DecimalType
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(sum(col("o_totalprice").cast(DecimalType(12, 2))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Set-operation coverage (§2.7): INTERSECT of open-order and
    * recent-order customers, EXCEPT those with a high-value order. */
  def q29SetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val recent = o.filter(col("o_orderdate") >= lit("1999-01-01")).select(col("o_custkey"))
    val big = o.filter(col("o_totalprice") > 300000).select(col("o_custkey"))
    open.intersect(recent).except(big)
      .select(col("o_custkey").as("cust_key"))
  }

  /** Top-3 distinctive terms per document: (tf DESC, df ASC, word ASC)
    * ranking — the integer-exact companion of `TextAnalysis.tfidf`
    * (whose float scores are spec-gated, not hash-gated). */
  def q40DistinctiveTerms(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.distinctiveTerms(table(spark, dir, "documents"), k = 3)

  /** Deterministic stratified hash-sample: even-numbered sources keep
    * 600‰, the rest 250‰ — membership is a pure function of doc_id. */
  def q41HashSample(spark: SparkSession, dir: String): DataFrame = {
    val quotas = (0 until 20 by 2).map(i => s"src$i" -> 600).toMap
    Corpus.hashSample(table(spark, dir, "documents"), "source", quotas,
      defaultPermille = 250)
      .select("doc_id", "source")
  }

  /** Token-budget sequence packing: 2048-BPE-token packs per source,
    * docs laid head-to-tail in id order. */
  def q42QuotaPack(spark: SparkSession, dir: String): DataFrame =
    Corpus.quotaPack(table(spark, dir, "documents"), "source",
      TextAnalysis.bpeTokenEstimate(col("text")), budgetTokens = 2048)
      .select("doc_id", "source", "pack_id", "pack_offset")

  /** PQ (product-quantization) ANN top-5: m=8 subspaces × 16 centroids,
    * ADC scoring over byte codes, over the planted-neighbor corpus —
    * hash-checked against the brute-force oracle (see [[annCorpus]]). */
  def q45PqTopK(spark: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(spark, dir)
    // dim = 64 is the testdata embeddings contract (same as q20's LSH)
    // rerank 200: PQ codes can't order near-equal cosines on weakly
    // structured data, so the exact re-rank shortlist is the recall
    // knob (still queries × rerank, never corpus-sized — RECALL.md)
    SimilaritySearch.pqTopK(
      corpus.filter(col("vec_id") < 10), corpus, dim = 64, k = 5, rerank = 200)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** Gopher-style repetition signals per document (integer-exact). */
  def q44Repetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionMetrics(table(spark, dir, "documents"))

  /** Decontamination sweep: corpus docs sharing ≥ 4 bigram shingles
    * with any "benchmark" doc (every 50th document plays the benchmark
    * set). Benchmark side broadcast; corpus never self-joins. */
  def q43Contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsPar(spark, dir)
    Dedup.contaminationPairs(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      n = 2, minIntersect = 4)
  }

  /** Deterministic 20-per-source draw (corpus mixture with exact
    * per-stratum counts; smallest-md5 order, id tiebreak). */
  def q47StratifiedTopK(spark: SparkSession, dir: String): DataFrame =
    Corpus.stratifiedTopK(table(spark, dir, "documents"), "source", k = 20)
      .select(col("doc_id"), col("source"), col("draw_rank"))

  /** Near-dup CLUSTERS: the q16 pair graph (≥ 8 shared bigrams within a
    * source block) contracted to connected components via
    * large-star/small-star; every document labelled with its cluster
    * minimum, singletons labelling themselves. The step that turns
    * pairwise dedup output into "keep one representative per cluster".
    * At sf0.01 this contracts 24 multi-document clusters (largest 18)
    * through genuine multi-hop chains. */
  def q46DupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsPar(spark, dir)
    val edges = Dedup.ngramJaccardPairs(docs, n = 2, minIntersect = 8,
      blockCol = Some("source"), withSizes = false)
    val comp = ConnectedComponents.connectedComponents(edges, "id1", "id2")
    docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }

  /** Span-level dedup (CCNet-style paragraph removal on word windows):
    * 10-word spans, global keeper = lowest doc_id; per-doc counts of
    * total vs. kept spans and surviving characters. */
  def q48SpanDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanDedup(table(spark, dir, "documents"), windowWords = 10)
      .select(col("id").as("doc_id"), col("n_spans"), col("n_kept"), col("kept_chars"))

  /** Deterministic corpus shuffle + exact 64-doc training shards
    * (scalable global index — no single-task global window). */
  def q49ShuffleShards(spark: SparkSession, dir: String): DataFrame =
    Corpus.shuffleShards(table(spark, dir, "documents"), shardSize = 64)
      .select(col("doc_id"), col("shard_id"), col("pos_in_shard"))

  /** CUBE over (source, lang): all four grouping-set combinations in
    * one pass, with GROUPING flags disambiguating subtotal rows from
    * genuine NULL group values (§2.5's grouping-sets surface beside
    * q28's ROLLUP). */
  def q50Cube(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .cube(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        grouping(col("source")).cast("long").as("g_source"),
        grouping(col("lang")).cast("long").as("g_lang"))

  /** Per-user event deltas: lag/lead over the (ts, event_id) order —
    * value change since the previous event and gap-to-next in
    * microseconds (window navigation functions, §2.6). */
  def q51LagDelta(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Queries.events(spark, dir)
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("value_delta", col("value") - col("prev_value"))
      .withColumn("next_gap_us",
        (unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts"))))
      .select(col("event_id"), col("user_id"), col("prev_value"),
        col("value_delta"), col("next_gap_us"))
  }

  /** TRUE greedy packing (close-on-overflow): sequential per-stratum
    * bin state via the repartition + sortWithinPartitions +
    * mapPartitions formulation; the oracle replays the same recurrence
    * as a recursive CTE. */
  def q52GreedyPack(spark: SparkSession, dir: String): DataFrame =
    Corpus.greedyPack(table(spark, dir, "documents"), "source",
      TextAnalysis.bpeTokenEstimate(col("text")), budgetTokens = 2048)
      .select(col("doc_id"), col("source"), col("pack_id"), col("pack_offset"))

  /** Chunked greedy packing — [[Corpus.greedyPackChunked]]'s bounded-
    * task scale mode of q52: same close-on-overflow recurrence run per
    * 32-doc chunk, pack ids sparse at chunk × 32. The DuckDB oracle
    * replays the identical recurrence per (source, chunk). */
  def q69GreedyPackChunked(spark: SparkSession, dir: String): DataFrame =
    Corpus.greedyPackChunked(table(spark, dir, "documents"), "source",
      TextAnalysis.bpeTokenEstimate(col("text")), budgetTokens = 2048,
      chunkRows = 32)
      .select(col("doc_id"), col("source"), col("pack_id"), col("pack_offset"))

  /** Temperature-scaled mixture sample (alpha = 0.5, 200-doc budget):
    * per-source quota ∝ sqrt(count) by exact integer largest-remainder
    * arithmetic, members drawn as the smallest md5 per source — the
    * GPT-3/LLaMA source-mixing rule, fully oracle-able (HUGEINT SQL). */
  def q70TemperatureSample(spark: SparkSession, dir: String): DataFrame =
    Corpus.temperatureSample(table(spark, dir, "documents"), "source",
      alpha = 0.5, totalN = 200)
      .select(col("doc_id"), col("source"), col("draw_rank"))

  /** Distinct vocabulary per source: exact count-distinct (two-phase
    * hash dedup then count — the HLL sketch twin is spec-gated for
    * error, not oracled). */
  def q54VocabBySource(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy("source")
      .agg(count_distinct(col("word")).as("n_distinct_words"),
        count(lit(1)).as("n_tokens"))

  /** Point-in-interval range join: every event matched to the session
    * interval containing it, via [[RangeJoin.binnedIntervalJoin]] —
    * equi-join on (user, time-bin) + residual BETWEEN, never a
    * nested-loop plan. Sessions = 30-min-gap windows (q32's recurrence)
    * reduced to (user, session, start, end) intervals. */
  def q55SessionRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val ev = Queries.events(spark, dir)
    val sessions = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
    RangeJoin.binnedIntervalJoin(
      ev.select(col("event_id"), col("user_id"), col("ts")),
      sessions, keys = Seq("user_id"),
      pointCol = "ts", startCol = "start_ts", endCol = "end_ts",
      binSeconds = 3600)
      .select(col("event_id"), col("user_id"),
        col("session_id").cast("long").as("session_id"))
  }

  /** JSON property extraction + aggregation (§2.8's json surface):
    * `get_json_object` path extraction inside codegen, integer-exact
    * aggregates. */
  def q56JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Queries.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  /** The deduped corpus itself: one representative (the cluster-min
    * doc) per q46 near-dup cluster, singletons kept — the final
    * "surviving documents" projection of the dedup pipeline. */
  def q57DedupedCorpus(spark: SparkSession, dir: String): DataFrame =
    q46DupClusters(spark, dir)
      .filter(col("component") === col("doc_id"))
      .select(col("doc_id"))

  /** PageRank over the part↔supplier bipartite graph (5 fixed power
    * iterations, damping 0.85): nodes are 2·partkey / 2·suppkey+1,
    * edges both directions of each distinct (part, supplier) lineitem
    * pairing. Doubles rounded to 6 dp; the oracle unrolls the same
    * five iterations as chained CTEs. */
  def q59PageRank(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select((col("l_partkey") * 2).cast("long").as("src"),
        (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      .distinct()
    val edges = li.unionByName(li.select(col("dst").as("src"), col("src").as("dst")))
    PageRank.pageRank(edges, iters = 5)
      .select(col("node"), round(col("r"), 6).as("pr"))
  }

  /** PII scrub over a synthesized contact string (email + IP + numeric
    * id built from integer columns, so both engines see byte-identical
    * input): masked text plus per-pattern audit counts — exact string
    * output, the regex chain is the operator under test. */
  def q60PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      lit("user"), col("user_id"), lit("@example.com ip=10.0."),
      col("user_id") % 256, lit("."), col("event_id") % 256,
      lit(" note="), get_json_object(col("props"), "$.k"))
    val counts = TextAnalysis.piiCounts(raw, minDigitRun = 2)
    Queries.events(spark, dir)
      .select(Seq(col("event_id"),
        TextAnalysis.scrubPii(raw, minDigitRun = 2).as("scrubbed")) ++
        counts.map { case (n, c) => c.as(n) }: _*)
  }

  /** BM25 keyword relevance ({spark, hash, window}, k1=1.2, b=0.75)
    * over the documents corpus — corpus-wide df, per-doc word-count
    * length normalization; score rounded to 6 dp on both sides. */
  def q61Bm25(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25(table(spark, dir, "documents"),
      queryTerms = Seq("spark", "hash", "window"))
      .select(col("id").as("doc_id"), col("n_terms_hit"),
        round(col("score"), 6).as("score"))

  /** CSV source (§2.1 surface): an explicit-schema header CSV dimension
    * (per-source sampling config, the shape a curation pipeline reads
    * from ops-managed config files) broadcast-joined against per-source
    * corpus counts, inactive sources filtered out. Weights are
    * binary-exact decimals so the double products hash-match. */
  def q62CsvDim(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{BooleanType, DoubleType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("source", StringType), StructField("weight", DoubleType),
      StructField("active", BooleanType)))
    val dim = spark.read.option("header", "true").schema(schema)
      .csv("/root/repo/src/test/resources/fixtures/source_weights.csv")
      .filter(col("active"))
    table(spark, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(broadcast(dim), "source")
      .select(col("source"), col("n_docs"), col("weight"),
        (col("n_docs") * col("weight")).as("weighted_docs"))
  }

  /** Real trained-BPE token counts beside the whitespace baseline.
    * Merge rules are learned from this corpus — deterministic, so the
    * per-word encoding is hash-gated via the committed
    * `bpe_word_tokens.parquet` fixture (DumpBpeFixture) and the
    * doc-level aggregation re-derived in the DuckDB oracle SQL;
    * determinism + exact detokenization roundtrip are additionally
    * spec-gated in BpeSpec. */
  def q63BpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    // 50 merges: the synthetic corpus' ~30-word vocabulary would fully
    // collapse to one-token words past ~105 — a partial budget keeps
    // real subword structure visible in the counts
    val enc = Bpe.encoderUdf(spark, Bpe.train(docs, numMerges = 50))
    // whitespace baseline counts NON-EMPTY words (same convention as
    // the encoder, which skips empty splits) — tokenCount's spaces+1
    // arithmetic would disagree on degenerate texts ("" → 1 vs 0)
    docs.select(col("doc_id"),
      size(enc(col("text"))).cast("long").as("n_bpe_tokens"),
      size(filter(split(col("text"), " "), w => length(w) > 0))
        .cast("long").as("n_ws_tokens"))
  }

  /** Trained quality classifier scores (lang='en' as the trusted-seed
    * proxy label — the operator cares about the pipeline shape; real
    * corpora supply their own seed labels). Deterministic LBFGS fit →
    * hash-gated: the per-WORD weight fixture (DumpQualityFixture)
    * lets the DuckDB oracle re-derive the join + sum + sigmoid in
    * ANSI SQL; ROUND(,6) on BOTH sides absorbs summation-order last
    * bits. */
  def q64QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val m = QualityClassifier.fit(
      docs.withColumn("label", (col("lang") === "en").cast("double")),
      "label", vocabSize = 1024)
    QualityClassifier.score(docs, m)
      .select(col("doc_id"), round(col("quality"), 6).as("quality"))
  }

  /** Deterministic weighted mixture order (training schedule): src0
    * sampled 4x, src1 2x, everything else 1x — proportional at every
    * prefix, no per-stratum window funnel (two global-index passes). */
  def q58MixtureOrder(spark: SparkSession, dir: String): DataFrame =
    Corpus.interleaveByWeight(table(spark, dir, "documents"), "source",
      weights = Map("src0" -> 4.0, "src1" -> 2.0))
      .select(col("doc_id"), col("source"), col("train_rank"))

  /** SemDeDup semantic near-dup pairs: k-means cells block the cosine
    * sweep, over the planted-neighbor corpus at minCos 0.92 — the
    * threshold regime where the quantizer is provably stable (planted
    * family diameter ≤ 0.05 rad keeps every family cell-pure while
    * the distractor-pair ceiling is ≤ 0.61; DeterminismProbe shows
    * the cell-blocked sweep EQUALS the exact all-pairs oracle), so
    * the approximate blocking path is exercised AND hash-checked.
    * The raw-corpus 0.45-threshold regime stays gated by OpsSpec's
    * subset/recall specs. */
  def q53SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    SimilaritySearch.semanticNearDupPairs(
      annCorpus(spark, dir), minCos = 0.92, nlist = 8)
      .select(col("id1"), col("id2"))

  /** Concat-and-chunk sequence packing: the corpus in doc_id order cut
    * into 512-token training sequences (BPE estimate), one row per
    * (sequence, document-piece) assignment — docs CROSS sequence
    * boundaries, unlike the q42/q52/q69 pack family. Integer-exact;
    * the oracle replays the prefix sum + boundary split in SQL. */
  def q71PackSequences(spark: SparkSession, dir: String): DataFrame =
    Corpus.packSequences(table(spark, dir, "documents"),
      TextAnalysis.bpeTokenEstimate(col("text")), seqTokens = 512)
      .select(col("doc_id"), col("seq_id"), col("seq_off"),
        col("doc_off"), col("piece_len"))

  /** DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    * bucket models, target = English docs vs the raw corpus; weight =
    * Σ count × log-ratio. ROUND(,6) on both sides absorbs
    * summation-order last bits (the q61/q64 contract). */
  def q72DsirWeights(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.dsirWeights(docsPar(spark, dir),
      isTarget = col("lang") === "en", nBuckets = 512)
      .select(col("doc_id"), col("n_feats"),
        round(col("dsir_weight"), 6).as("dsir_weight"))

  /** Content-defined chunking dedup stats: md5-gated breakpoints
    * (12-char windows, modulus 32 → ~32-char chunks), chunks shared by
    * ≥ 2 distinct docs counted per doc. Integer-exact. */
  def q73CdcStats(spark: SparkSession, dir: String): DataFrame =
    Cdc.cdcDedupStats(docsPar(spark, dir),
      windowChars = 12, modulus = 32, minDocs = 2)

  /** Cross-document bigram novelty: distinct shingles whose corpus-wide
    * first occurrence (min doc_id) is this doc — the "new content
    * contributed" data-selection signal. Integer-exact. */
  def q74Novelty(spark: SparkSession, dir: String): DataFrame =
    Dedup.noveltyStats(docsPar(spark, dir), n = 2)

  /** Embedding near-dup pairs above cosine 0.45, blocked by the label
    * column (exact within block — deterministic double arithmetic, so
    * DuckDB-oracle-checkable). Routed through the GUARDED
    * [[Dedup.labelBlockedNearDupPairs]]: an oversized block fails fast
    * with a message pointing at the LSH/cluster-blocked scale paths
    * rather than launching a quadratic join. */
  def q23EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.labelBlockedNearDupPairs(
      table(spark, dir, "embeddings"), blockCol = "label", minCosine = 0.45)
      .select(col("id1"), col("id2"))

  /** The 100 TB decontamination formulation end-to-end: Bloom-prefilter
    * the corpus against the benchmark shingle set (≈1.2 B/entry
    * broadcast instead of a shingle table), exact-verify the suspects,
    * and emit the CLEAN corpus — q43's pair sweep turned into the
    * surviving-documents projection. Exact despite the sketch: Bloom
    * only over-selects, and every suspect is re-checked. */
  /** SPARSE-regime Bloom decontamination — the prefilter in its value
    * regime (q75's bigram fixture is dense by the corpus's ~31-word
    * vocabulary and always takes the measured fallback): 8-gram
    * shingles collide only through genuinely duplicated passages (the
    * production contamination-screen order — GPT-3 appendix C and The
    * Pile screen on 13-grams for exactly this reason), so suspect
    * density here is ~0.2% and the probe pass prunes ~99.8% of the
    * corpus before the exact verify. Measured min-of-3 at sf0.1:
    * bloom 3.7 s vs exact 9.7 s; crossover bracketed at 25% density
    * (prune wins) vs 100% (fallback correctly fires) — BENCH_NOTES
    * round 11. Exact despite the sketch: Bloom only over-selects and
    * every suspect is re-verified, so the oracle is the no-sketch
    * formulation. */
  def q96SparseContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsPar(spark, dir)
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    Dedup.contaminationPairsBloom(corpus, bench, n = 8, minIntersect = 4)
      .select(col("corpus_id"), col("bench_id"), col("inter_n"), col("bench_n"))
  }

  def q75BloomClean(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsPar(spark, dir)
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val dirty = Dedup.contaminationPairsBloom(corpus, bench, n = 2, minIntersect = 4)
      .select(col("corpus_id").as("doc_id")).distinct()
    corpus.join(dirty, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
  }

  /** Exact SimHash near-dup pairs (Hamming ≤ 3) from the PORTABLE
    * fingerprint ([[Dedup.simhashPortable]]: Karp-Rabin hashes of
    * DISTINCT word bigrams — cross-engine, unlike q18's xxhash64, and
    * shingle-featured per Manku WWW'07: word-level features mark 7.5%
    * of all sf0.1 pairs near-dup on this low-vocabulary corpus, an
    * inherently quadratic output, vs 0.002% for bigrams) through the
    * entropy-balanced pigeonhole ([[Dedup.simhashPairsBalanced]]).
    * The oracle is brute-force all-pairs Hamming — deliberately blind
    * to the blocking, so it gates the pigeonhole's no-lost-pairs
    * guarantee end-to-end. */
  def q76SimhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    // cache contract: fps backs every pigeonhole probe of the lazily
    // returned result; the harness (Bench/Verify) clearCache()s after
    // materializing each query — same lifecycle as globalIndex
    val fps = Dedup.simhashPortable(docsPar(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.simhashPairsBalanced(fps, maxDist = 3)
      .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
  }

  /** Trigram language-model sufficient statistics (n3, ctx_n) for
    * trigrams seen ≥ 2× — integer-exact ([[TextAnalysis.trigramCounts]]);
    * context totals include the singleton trigrams they absorb. */
  def q77TrigramLm(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.trigramCounts(docsPar(spark, dir))
      .filter(col("n3") >= 2)
      .select(col("w1"), col("w2"), col("w3"), col("n3"), col("ctx_n"))

  /** Distributed k-means assignment kernel, integer-exact against the
    * 8 smallest-id seed centroids ([[KMeans.assignToSeeds]]): cluster
    * cardinalities, BIGINT inertia, and representative members — the
    * oracle-gated core the iterative [[KMeans.lloydWithRelease]]
    * refinement builds on (Lloyd's itself is double arithmetic,
    * property-gated in KMeansSpec). */
  def q78KmeansAssign(spark: SparkSession, dir: String): DataFrame =
    KMeans.assignToSeeds(table(spark, dir, "embeddings"), k = 8)

  /** Fixed-window RAG chunking with overlap ([[Cdc.windowChunks]]:
    * 64-word windows every 48 words) — shuffle-free, md5-portable,
    * integer-exact. */
  def q79WindowChunks(spark: SparkSession, dir: String): DataFrame =
    Cdc.windowChunks(docsPar(spark, dir), windowWords = 64, strideWords = 48)
      .withColumnRenamed("id", "doc_id")

  /** PCA sufficient statistics over the embedding corpus
    * ([[Pca.momentStats]]): integer-exact second/first moments + count
    * in ONE pass via the homogeneous-coordinate trick. The corpus
    * never shuffles — each scan task emits ≤ 2,145 partial rows. */
  def q80EmbMoments(spark: SparkSession, dir: String): DataFrame =
    Pca.momentStats(Queries.parallelFloor(table(spark, dir, "embeddings")))

  /** Quality-aware near-dup cluster representative (the SemDeDup
    * "keep best per cluster" semantics on the q46 component graph):
    * per component, the keeper maximizes n_chars with doc_id as the
    * deterministic tie-break — a struct-min aggregation, no window. */
  def q81ClusterKeeper(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsPar(spark, dir)
    val edges = Dedup.ngramJaccardPairs(docs, n = 2, minIntersect = 8,
      blockCol = Some("source"), withSizes = false)
    val comp = ConnectedComponents.connectedComponents(edges, "id1", "id2")
    docs.select(col("doc_id"), col("n_chars"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"),
        col("n_chars"))
      .groupBy("component")
      .agg(count(lit(1)).cast("long").as("n_members"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        min(struct((-col("n_chars")).as("neg"), col("doc_id").as("id")))
          .as("_k"))
      .select(col("component"), col("_k.id").as("keeper_id"),
        col("n_members"), col("total_chars"))
  }

  /** Gopher-style rule gate ([[TextAnalysis.gopherRules]]): the cheap
    * integer-exact first-stage corpus filter ahead of the learned
    * classifier (q64) — per-doc stats, four rule booleans, `kept`. */
  def q82GopherRules(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(table(spark, dir, "documents"))

  /** PCA projection of the embedding corpus onto the top-8 components
    * ([[Pca.fitExact]] + [[Pca.project]]): the fit is bit-deterministic
    * (integer moment pass), the projection a broadcast-literal map-side
    * product — oracle-gated against the dumped rotation fixture
    * (DumpPcaFixture), same trust split as q64: the eigensolve is not
    * SQL-expressible but deterministic; the PROJECTION algebra is
    * re-derived independently in the oracle. */
  def q83PcaProject(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val m = Pca.fitExact(emb, k = 8)
    Pca.project(emb, m)
      .select(col("vec_id"), posexplode(col("pc")).as(Seq("component", "y")))
      .select(col("vec_id"), col("component").cast("long").as("component"),
        round(col("y"), 6).as("y"))
  }

  /** Stupid-backoff trigram LM document scoring
    * ([[TextAnalysis.stupidBackoffScores]]): counts trained on the
    * src0 trusted-seed subset, every document scored with α=0.4
    * backoff through bigram → unigram → OOV floor — the higher-order
    * companion to q67's unigram perplexity. */
  def q84BackoffLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsPar(spark, dir)
    TextAnalysis.stupidBackoffScores(docs, docs.filter(col("source") === "src0"))
  }

  /** Per-shard delivery manifest ([[Corpus.shardManifest]] over the
    * q49 shard assignment): row counts, token totals, an
    * order-insensitive int64 content checksum, and each shard's first
    * document — the verification artifact shipped beside shard files. */
  def q85ShardManifest(spark: SparkSession, dir: String): DataFrame =
    Corpus.shardManifest(table(spark, dir, "documents"), shardSize = 64)

  /** The composed clean-corpus pipeline — the engine's flagship recipe
    * as ONE explainable query: per document, a boolean per stage plus
    * the final verdict.
    *   - `r_exact`:   exact-dup keeper election (q15 semantics)
    *   - `r_neardup`: SimHash near-dup clusters (q76 pairs →
    *                  connected components), keeper = component min
    *   - `r_clean`:   decontamination (q43 semantics; benchmark docs
    *                  themselves are excluded from training)
    *   - `r_quality`: the Gopher rule gate (q82)
    *   - `kept` = all four — the corpus a training run would read.
    * Every stage reuses the standalone operator, and the oracle reuses
    * each stage's own SQL (the SimHash chain verbatim-shared), so the
    * composition is gated end-to-end, not just piecewise. */
  def q86CorpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    // deliberately NOT persisted: the five stage-side consumers of the
    // documents scan are independent plan branches whose parquet
    // re-reads are cheaper than a persist's materialization barrier —
    // measured 3.65 s (scan per stage) vs 4.77 s (persisted) at sf0.1
    // (BENCH_NOTES round 12) and re-confirmed at sf1 under a 16 GiB
    // heap where the scan is 10× dearer: 11.17 s vs 12.63 s persisted
    // at matched canary (BENCH_NOTES round 14)
    val docs = docsPar(spark, dir)
    val exKeep = docs
      .groupBy(md5(col("text")).as("_h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("_ex"))
    // cache contract: released by the harness's per-query clearCache
    // (the lazily returned result still references fps — see q76)
    val fps = Dedup.simhashPortable(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.simhashPairsBalanced(fps, maxDist = 3)
    val comp = ConnectedComponents.connectedComponents(pairs, "id1", "id2")
    val suspects = Dedup.contaminationPairs(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        n = 2, minIntersect = 4)
      .select(col("corpus_id").as("doc_id")).distinct()
      .withColumn("_sus", lit(true))
    val gq = TextAnalysis.gopherRules(docs)
      .select(col("doc_id"), col("kept").as("r_quality"))
    docs.select(col("doc_id"))
      .join(exKeep, Seq("doc_id"), "left")
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .join(suspects, Seq("doc_id"), "left")
      .join(gq, Seq("doc_id"))
      .select(col("doc_id"),
        coalesce(col("_ex"), lit(false)).as("r_exact"),
        (coalesce(col("component"), col("doc_id")) === col("doc_id"))
          .as("r_neardup"),
        (col("doc_id") % 50 =!= 0 && coalesce(col("_sus"), lit(false)) === false)
          .as("r_clean"),
        col("r_quality"))
      .withColumn("kept",
        col("r_exact") && col("r_neardup") && col("r_clean") && col("r_quality"))
  }

  /** Sequence-length distribution per language
    * ([[TextAnalysis.lengthHistogram]], width-16 buckets): doc counts,
    * token mass, cumulative docs — the packing/truncation telemetry.
    * One tiny (lang, bucket) aggregate; the window runs over it, never
    * over documents. */
  def q87LenHistogram(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthHistogram(
      table(spark, dir, "documents"), bucketWidth = 16)

  /** Pairwise source-level bigram overlap matrix
    * ([[Dedup.sourceOverlap]]): integer intersection/union of each
    * source pair's distinct-shingle sets — the corpus-mixing
    * diagnostic. The matrix is materialized through
    * [[materializeViaTemp]] so the persisted posting/hot/complement
    * blocks are released here, not left to the harness's clearCache. */
  def q88SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val (matrix, release) =
      Dedup.sourceOverlapWithRelease(docsPar(spark, dir), n = 2)
    val out = materializeViaTemp(matrix, "q88overlap")
    release()
    out
  }

  /** Per-document out-of-vocabulary occurrence counts against the
    * corpus top-16 vocabulary ([[TextAnalysis.oovStats]]) — the cheap
    * tail-token quality signal. Vocabulary = one TakeOrdered top-k,
    * broadcast back. */
  def q89OovRate(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.oovStats(table(spark, dir, "documents"), vocabSize = 16)

  /** Edit-distance VERIFIED near-dup pairs ([[Dedup.levVerifiedPairs]]):
    * the q76 SimHash pigeonhole candidates (exact Hamming ≤ 3, no lost
    * pairs) re-measured with banded Levenshtein ≤ 16 on the raw text —
    * the two-tier fuzzy-dedup verify stage. */
  def q90LevNeardup(spark: SparkSession, dir: String): DataFrame =
    Dedup.levVerifiedPairs(docsPar(spark, dir), maxDist = 3, maxLev = 16)

  /** Head/boilerplate dedup ([[Dedup.prefixDedup]]): keeper election on
    * the md5 of the first 8 tokens — one hash aggregation, q15's shape
    * on the templated-head key. */
  def q91PrefixDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixDedup(table(spark, dir, "documents"), prefixWords = 8)

  /** Skew-salted two-phase aggregation gate ([[SkewJoin.saltedSum]]):
    * events value (quantized to the round(value·100) integer grid)
    * summed by event_type — 5 genuinely hot keys, each spread over 32
    * salt tasks before the merge. The oracle is the UNSALTED GROUP BY,
    * so the gate proves salting reshapes the plan without moving the
    * answer. */
  def q93SaltedSum(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SkewJoin.saltedSum(Queries.events(spark, dir),
      col("event_type"), round(col("value") * 100).cast("long"), salts = 32)
      .select(col("key").as("event_type"), col("sum").as("sum_cents"),
        col("count").as("n"))

  /** Skew-salted equi-join gate ([[SkewJoin.saltedJoin]]): events
    * enriched with a derived per-user dimension under an 8-way salt
    * (hot side salted, dim replicated). Oracle = the plain join — the
    * inner-join result is salt-invariant by construction and the gate
    * holds it to that. */
  def q94SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.events(spark, dir)
    val dim = ev.groupBy("user_id").agg(count(lit(1)).as("n_user_events"))
    graft.ops.SkewJoin.saltedJoin(
        ev.select(col("event_id"), col("user_id")), dim, "user_id", salts = 8)
      .select(col("event_id"), col("user_id"), col("n_user_events"))
  }

  /** Incremental cluster maintenance gate
    * ([[ConnectedComponents.updateComponents]]): the q76 SimHash pair
    * set split into two deterministic halves — components of half 1,
    * then the second half folded in INCREMENTALLY (labels-as-edges ∪
    * batch, never re-reading history). The oracle is the transitive
    * closure over ALL pairs, so the gate proves the incremental path
    * converges to exactly the batch answer. Every document labelled;
    * singletons label themselves. */
  def q95IncrementalCc(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsPar(spark, dir)
    // cache contract: released by the harness's per-query clearCache;
    // fps persisted too — five pigeonhole consumers read it (see
    // levVerifiedPairs)
    val fps = Dedup.simhashPortable(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.simhashPairsBalanced(fps, maxDist = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = pairs.filter((col("id1") + col("id2")) % 2 === 0)
    val second = pairs.filter((col("id1") + col("id2")) % 2 =!= 0)
    val labels0 = ConnectedComponents.connectedComponents(first, "id1", "id2")
    val updated = ConnectedComponents.updateComponents(labels0, second, "id1", "id2")
    docs.select(col("doc_id"))
      .join(updated.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }

  /** The DURABLE LABEL STORE, oracle-gated
    * ([[graft.streaming.DedupStream.foldLabels]]): the corpus's
    * Hamming ≤ 3 pair set and its doc ids split into three
    * deterministic micro-batches, each tick folding through the
    * `_CHAIN`-published snapshot store (write → ordered publish →
    * read-back, replay-excluded by tag). The final snapshot must
    * equal the transitive closure over ALL pairs — q95's oracle
    * VERBATIM — so the snapshot machinery sits inside the DuckDB
    * hash gate, not behind specs alone. The pair STORE (simhashStep)
    * is deliberately not in this loop: its per-tick orchestration is
    * fixed cost at sf scale and it carries its own spec +
    * CLUSTER_TICK rehearsal gates; the full composition is
    * [[graft.streaming.DedupStream.clusterStep]]. Fresh store per
    * invocation; deterministic tags make accidental reuse a no-op
    * replay. */
  def q97ClusterStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsPar(spark, dir)
    val fps = Dedup.simhashPortable(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.simhashPairsBalanced(fps, maxDist = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val store = java.nio.file.Files
      .createTempDirectory("q97store").toString
    // bench repetition must not leak /tmp for the process lifetime:
    // the returned view lazily reads the store, so deletion waits for
    // JVM exit rather than racing the caller's hash pass
    scala.sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(store))
    }
    var labels: DataFrame = docs.sparkSession.emptyDataFrame
    (0 until 3).foreach { c =>
      labels = graft.streaming.DedupStream.foldLabels(
        docs.filter(pmod(col("doc_id"), lit(3)) === c).select(
          col("doc_id").cast("long").as("id")),
        pairs.filter(pmod(col("id1") + col("id2"), lit(3)) === c),
        store, batchTag = s"t$c")
    }
    // each fold's writes already materialized; the returned view is a
    // store read, lineage-free of these — release the blocks now
    fps.unpersist()
    pairs.unpersist()
    labels.select(col("id").as("doc_id"), col("component"))
  }

  /** MULTIMODAL metadata extraction, oracle-gated
    * ([[graft.ops.MediaSynth]] → [[graft.ops.Multimodal]]): per doc id
    * a REAL container payload is synthesized (BMP image / PCM16 WAV /
    * MJPEG-shaped AVI, kind = id mod 3, every parameter a small
    * modulus of the id), then ALL metadata is recovered through the
    * real decode paths — [[graft.ops.ImageCodecs.decodeBmp]] dims,
    * [[graft.ops.RiffCodecs.decodeWav]] rate/duration +
    * [[graft.ops.RiffCodecs.wavPcmWindows]] window features,
    * [[graft.ops.RiffCodecs.decodeAvi]] dims/frame-clock +
    * [[Multimodal.sampleFrames]] demuxed frame slices, and
    * [[Multimodal.extractFeatures]] payload sizes. The DuckDB oracle
    * restates the synthesis arithmetic from doc_id alone, so any
    * writer/walker drift — a mis-walked chunk, an off-by-one frame
    * slice, a wrong duration clock — breaks the hash. Bytes never
    * enter a shuffle key; per-row work is mapPartitions
    * (Multimodal's scale contract). */
  def q98MultimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val (meta, assets) = q98MetaPlan(spark, dir)
    // the synthesized container bytes are the dominant cached payload:
    // materialize the (tiny) metadata projection and release them here
    // rather than letting GBs of asset blocks outlive the query
    val out = materializeViaTemp(meta, "q98mm")
    assets.unpersist()
    out
  }

  /** The q98 COMPUTE plan plus its persisted asset handle — split out
    * so PlanGuardSpec can assert the multimodal scale contract on the
    * real plan (bytes never cross an exchange) before the registered
    * wrapper materializes it away. */
  private[queries] def q98MetaPlan(
      spark: SparkSession, dir: String): (DataFrame, Dataset[graft.ops.Multimodal.MediaAsset]) = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val assets = table(spark, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map(graft.ops.MediaSynth.assetFor)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = graft.ops.Multimodal.extractFeatures(assets)
      .select(col("asset_id"), col("n_bytes"))
    val images = graft.ops.Multimodal.decodeImages(assets.filter(_.kind == "image"))
      .select(col("asset_id"), lit("image").as("kind"),
        col("meta.format").as("fmt"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        lit(0L).as("duration_ms"), lit(0).as("sample_rate"),
        lit(0L).as("n_units"), lit(0L).as("payload"))
    val audioAssets = assets.filter(_.kind == "audio")
    val audioWin = graft.ops.Multimodal.audioWindows(audioAssets, 4, 4)
      .groupBy("asset_id")
      .agg(count(lit(1)).as("n_units"), sum(col("sum_abs")).as("payload"))
    val audio = graft.ops.Multimodal.decodeAudio(audioAssets)
      .select(col("asset_id"), lit("audio").as("kind"),
        col("meta.format").as("fmt"),
        lit(0).as("width"), lit(0).as("height"),
        col("meta.durationMs").as("duration_ms"),
        col("meta.sampleRate").as("sample_rate"))
      .join(audioWin, Seq("asset_id"))
    val videoAssets = assets.filter(_.kind == "video")
    val videoFrames = graft.ops.Multimodal.sampleFrames(videoAssets, everyMs = 40L)
      .groupBy("asset_id")
      .agg(count(lit(1)).as("n_units"),
        sum(length(col("frame_bytes"))).cast("long").as("payload"))
    val video = graft.ops.Multimodal.decodeVideo(videoAssets)
      .select(col("asset_id"), lit("video").as("kind"),
        col("meta.format").as("fmt"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.durationMs").as("duration_ms"), lit(0).as("sample_rate"))
      .join(videoFrames, Seq("asset_id"))
    val meta = images.unionByName(audio).unionByName(video)
      .join(sizes, Seq("asset_id"))
      .withColumnRenamed("asset_id", "doc_id")
    (meta, assets)
  }

  /** MULTIMODAL metadata extraction over the SECOND container trio,
    * oracle-gated ([[graft.ops.MediaSynth.extAssetFor]] →
    * [[graft.ops.Multimodal]]): per doc id a REAL container payload is
    * synthesized (baseline JFIF JPEG / ISO-BMFF MP4 with explicit
    * stsz/stco/stsc sample tables / Matroska-EBML with one Xiph-laced
    * SimpleBlock, kind = id mod 3, every parameter a small modulus of
    * the id), then all metadata is recovered through the real walks —
    * [[graft.ops.ImageCodecs.decodeJpeg]]'s marker scan to SOF0,
    * [[graft.ops.RiffCodecs.decodeMp4]]'s chunk-resolved sample
    * slices + mvhd clock, [[graft.ops.RiffCodecs.decodeMkv]]'s EBML
    * walk + lacing demux, and [[Multimodal.sampleFrames]] frame
    * slices. The DuckDB oracle restates the synthesis arithmetic from
    * doc_id alone (closed-form byte lengths asserted writer-side in
    * Round13OpsSpec), so a mis-scanned marker, a mis-walked sample
    * table, or a mis-laced block breaks the hash. Cache contract and
    * scale shape identical to [[q98MultimodalMeta]]. */
  def q99MultimodalExt(spark: SparkSession, dir: String): DataFrame = {
    val (meta, assets) = q99MetaPlan(spark, dir)
    val out = materializeViaTemp(meta, "q99mm")
    assets.unpersist()
    out
  }

  /** q99's COMPUTE plan + asset handle (see [[q98MetaPlan]]). */
  private[queries] def q99MetaPlan(
      spark: SparkSession, dir: String): (DataFrame, Dataset[graft.ops.Multimodal.MediaAsset]) = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val assets = table(spark, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map(graft.ops.MediaSynth.extAssetFor)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = graft.ops.Multimodal.extractFeatures(assets)
      .select(col("asset_id"), col("n_bytes"))
    val images = graft.ops.Multimodal.decodeImages(assets.filter(_.kind == "image"))
      .select(col("asset_id"), lit("image").as("kind"),
        col("meta.format").as("fmt"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        lit(0L).as("duration_ms"), lit(0L).as("n_units"), lit(0L).as("payload"))
    val videoAssets = assets.filter(_.kind == "video")
    val videoFrames = graft.ops.Multimodal.sampleFrames(videoAssets, everyMs = 40L)
      .groupBy("asset_id")
      .agg(count(lit(1)).as("n_units"),
        sum(length(col("frame_bytes"))).cast("long").as("payload"))
    val video = graft.ops.Multimodal.decodeVideo(videoAssets)
      .select(col("asset_id"), lit("video").as("kind"),
        col("meta.format").as("fmt"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.durationMs").as("duration_ms"))
      .join(videoFrames, Seq("asset_id"))
    val meta = images.unionByName(video)
      .join(sizes, Seq("asset_id"))
      .withColumnRenamed("asset_id", "doc_id")
    (meta, assets)
  }

  /** MULTIMODAL dimensions over the THIRD container trio, oracle-gated
    * ([[graft.ops.MediaSynth.imgAssetFor]]): real PNG (IHDR walk behind
    * true CRC32s) / GIF89a (logical screen descriptor) / WebP-VP8L
    * (14-bit packed dims per RFC 9649) payloads per doc id, recovered
    * exclusively through [[graft.ops.ImageCodecs]]'s remaining
    * header parsers — with q98 (BMP) and q99 (JPEG), every ImageCodecs
    * path now sits inside the DuckDB hash gate. No persist: the single
    * decode pass consumes the synthesized bytes once. */
  def q100MultimodalImg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val assets = table(spark, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map(graft.ops.MediaSynth.imgAssetFor)
    graft.ops.Multimodal.decodeImages(assets)
      .select(col("asset_id").as("doc_id"),
        col("meta.format").as("fmt"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        length(col("bytes")).cast("long").as("n_bytes"))
  }

  /** MULTIMODAL dimensions over baseline TIFF (round 16): real TIFF
    * 6.0 headers in BOTH byte orders (II by even id, MM by odd — the
    * one image container where endianness is a per-file property),
    * synthesized per doc_id ([[graft.ops.MediaSynth.tiffAssetFor]])
    * and recovered exclusively through the real IFD walk
    * ([[graft.ops.ImageCodecs.decodeTiff]]: magic+42 dispatch,
    * entry-table scan for tags 256/257, left-justified inline SHORT
    * semantics). With q98/q99/q100 every ImageCodecs path — now six
    * image containers — sits inside the DuckDB hash gate; the oracle
    * restates the synthesis arithmetic from the id alone. */
  def q110MultimodalTiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val assets = table(spark, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map(graft.ops.MediaSynth.tiffAssetFor)
    graft.ops.Multimodal.decodeImages(assets)
      .select(col("asset_id").as("doc_id"),
        col("meta.format").as("fmt"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        length(col("bytes")).cast("long").as("n_bytes"))
  }

  /** MULTIMODAL dimensions over AVIF/HEIC (round 16): the modern-web
    * still-image family — ISO-BMFF/HEIF `ftyp` brands with the `meta`
    * FULLBOX nesting `iprp(ipco(ispe))`, synthesized per doc_id
    * ([[graft.ops.MediaSynth.avifAssetFor]], brand by id parity) and
    * recovered exclusively through the real box-spine walk
    * ([[graft.ops.ImageCodecs.decodeAvif]] — including the meta
    * fullbox's version/flags offset, the one structural trap). Seven
    * image containers now sit inside the DuckDB hash gate; the oracle
    * restates the synthesis arithmetic from the id alone. */
  def q111MultimodalAvif(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val assets = table(spark, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map(graft.ops.MediaSynth.avifAssetFor)
    graft.ops.Multimodal.decodeImages(assets)
      .select(col("asset_id").as("doc_id"),
        col("meta.format").as("fmt"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        length(col("bytes")).cast("long").as("n_bytes"))
  }

  /** STREAMING ANN, oracle-gated ([[graft.streaming.AnnStream]]): the
    * planted-neighbor corpus split into three micro-batches, each
    * upserted as a bucket-keyed commit into a durable LSH store, then
    * searched through the PRUNED store read path. Same hyperplane
    * params as q20, so on the planted structure the result provably
    * equals brute force — q20's oracle VERBATIM (the q95/q97
    * shared-SQL precedent): the incremental index must answer exactly
    * like the one-shot build. Fresh store per invocation; deterministic
    * tags make accidental reuse a no-op replay. */
  def q101AnnStream(spark: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(spark, dir)
    val store = java.nio.file.Files.createTempDirectory("q101ann").toString
    scala.sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(store))
    }
    (0 until 3).foreach { c =>
      graft.streaming.AnnStream.upsertStep(
        corpus.filter(pmod(col("vec_id"), lit(3)) === c), store,
        dim = 64, planes = 6, tables = 8, batchTag = s"a$c")
    }
    graft.streaming.AnnStream.searchStore(
        spark, store, corpus.filter(col("vec_id") < 10), k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** The durable incremental IVF store ([[graft.streaming.IvfStream]]):
    * the corpus accretes over 3 upsert commits (the FIRST tick fits and
    * pins the quantizer; later ticks assign to the pinned cells) and
    * the nprobe-pruned search must answer exactly like q30's one-shot
    * [[SimilaritySearch.ivfTopK]] gate — the planted-ANN brute-force
    * oracle verbatim (nprobe 8: the q30 coverage knee holds for a
    * first-tick-fit quantizer too — the planted copies sit ≥ 0.9987
    * cosine from their query, so query and copy share nearest cells
    * regardless of which bounded sample trained the quantizer). */
  def q102IvfStream(spark: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(spark, dir)
    val store = java.nio.file.Files.createTempDirectory("q102ivf").toString
    scala.sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(store))
    }
    (0 until 3).foreach { c =>
      graft.streaming.IvfStream.upsertStep(
        corpus.filter(pmod(col("vec_id"), lit(3)) === c), store,
        dim = 64, nlist = 16, seed = 13L, batchTag = s"a$c")
    }
    graft.streaming.IvfStream.searchStore(
        spark, store, corpus.filter(col("vec_id") < 10), k = 5, nprobe = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** The durable incremental IVF-PQ store
    * ([[graft.streaming.IvfPqStream]]): the corpus accretes over 3
    * commits (the FIRST tick fits and pins BOTH quantizers — coarse
    * centroids + residual codebooks), each later tick residual-encodes
    * under the pinned models, and the cell-pruned ADC + exact-re-rank
    * search must answer exactly like q65's one-shot
    * [[SimilaritySearch.ivfPqTopK]] gate — the planted-ANN brute-force
    * oracle verbatim (nprobe 10 / rerank 192, the q65 knee: the fused
    * tier compounds cell-probe and code-quantization losses, so both
    * knobs open up; on the planted structure the top-5 is provably
    * brute force). */
  def q104IvfPqStream(spark: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(spark, dir)
    val store = java.nio.file.Files.createTempDirectory("q104pq").toString
    scala.sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(store))
    }
    (0 until 3).foreach { c =>
      graft.streaming.IvfPqStream.upsertStep(
        corpus.filter(pmod(col("vec_id"), lit(3)) === c), store,
        dim = 64, nlist = 16, m = 8, seed = 37L, batchTag = s"a$c")
    }
    graft.streaming.IvfPqStream.searchStore(
        spark, store, corpus.filter(col("vec_id") < 10), k = 5,
        nprobe = 10, rerank = 192)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** The durable incremental IVF-SQ8 store
    * ([[graft.streaming.IvfSqStream]]): the corpus accretes over 3
    * commits (the FIRST tick fits and pins the model — coarse
    * centroids + per-dimension residual bounds), each later tick
    * scalar-encodes under the pinned model, and the cell-pruned
    * coefficient-scored + exact-re-rank search must answer exactly
    * like q108's one-shot [[SimilaritySearch.ivfSqTopK]] gate — the
    * planted-ANN brute-force oracle verbatim (nprobe 10 / rerank 192,
    * the q65/q108 knee). */
  def q109IvfSqStream(spark: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(spark, dir)
    val store = java.nio.file.Files.createTempDirectory("q109sq").toString
    scala.sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(store))
    }
    (0 until 3).foreach { c =>
      graft.streaming.IvfSqStream.upsertStep(
        corpus.filter(pmod(col("vec_id"), lit(3)) === c), store,
        dim = 64, nlist = 16, seed = 41L, batchTag = s"a$c")
    }
    graft.streaming.IvfSqStream.searchStore(
        spark, store, corpus.filter(col("vec_id") < 10), k = 5,
        nprobe = 10, rerank = 192)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** UPSERT-CHURN gate (round 17): the latest-wins contract under
    * CORRECTNESS, not just specs. The planted corpus accretes into an
    * IVF-PQ store over 3 commits (the q104 shape), then a FOURTH tick
    * RE-UPSERTS two of each query's five planted copies (c ∈ {1, 2})
    * with CHANGED vectors — a 0.5/0.5 query/distractor mix whose
    * cosine sits far below the v1 copies' ≥ 0.98. The search runs
    * TWICE, pre-compaction (the [[graft.streaming.StoreCommits
    * .deltaMasked]] global mask) and post-compaction (the
    * [[graft.streaming.StoreCommits.electLatest]] physical fold), and
    * both states are hash-gated against ONE DuckDB brute-force oracle
    * over the LATEST corpus. Under the pre-round-17 max-over-versions
    * semantics the stale v1 rows (cos ≥ 0.98) would outrank and the
    * hash would mismatch — this gate is the end-to-end proof that
    * upsert means replace, in both store states. */
  def q112UpsertChurn(spark: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(spark, dir)
    val emb = table(spark, dir, "embeddings")
    val store = java.nio.file.Files.createTempDirectory("q112churn").toString
    scala.sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(store))
    }
    (0 until 3).foreach { c =>
      graft.streaming.IvfPqStream.upsertStep(
        corpus.filter(pmod(col("vec_id"), lit(3)) === c), store,
        dim = 64, nlist = 16, m = 8, seed = 37L, batchTag = s"a$c")
    }
    // the churn tick: v2 of the c ∈ {1, 2} planted ids — the
    // plantedNeighborCorpus id/mix formula with the coefficient pushed
    // to 0.5 (same double-arithmetic-then-float-cast discipline as the
    // oracle's CTE, so the vectors are bit-identical)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").cast("long").as("qid"), col("embedding").as("qv"))
    val u = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select((col("vec_id") - 10).cast("long").as("qid"),
        col("embedding").as("uv"))
    val v2 = q.join(u, "qid")
      .select(col("qid"), col("qv"), col("uv"),
        explode(sequence(lit(1), lit(2))).as("c"))
      .select(
        (lit(1L << 40) + col("qid") * 5 + col("c")).cast("long").as("vec_id"),
        zip_with(col("qv"), col("uv"), (a, b) =>
          (lit(0.5) * a.cast("double") + lit(0.5) * b.cast("double"))
            .cast("float")).as("embedding"))
    graft.streaming.IvfPqStream.upsertStep(v2, store,
      dim = 64, nlist = 16, m = 8, seed = 37L, batchTag = "churn")
    val queries = corpus.filter(col("vec_id") < 10)
    def searchState(state: String): DataFrame =
      graft.streaming.IvfPqStream.searchStore(
          spark, store, queries, k = 5, nprobe = 10, rerank = 192)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), lit(state).as("state"))
    // materialize the pre-compaction answer BEFORE compacting (the
    // DataFrame is lazy; a union would re-read the folded store)
    val preDf = searchState("pre")
    val pre = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(
        preDf.collect(): _*)), preDf.schema)
    graft.streaming.IvfPqStream.compactStore(spark, store)
    pre.unionByName(searchState("post"))
  }

  /** HYBRID retrieval (round 17): reciprocal-rank fusion of a LEXICAL
    * ranking (BM25, the q61 terms) and a VECTOR ranking (exact cosine
    * against document 0's embedding over the doc∩embedding join) —
    * the standard hybrid-search shape a retrieval/training pipeline
    * runs over a 100 TB corpus, here as two narrow rank relations
    * fused by `1/(60+rank)` (the published RRF constant) in one
    * full-outer join. Determinism: both legs rank on values the
    * engine/oracle pair already proves bit-identical (BM25 rounded to
    * 6 places — the q61 discipline; sequential-double cosine — the
    * q19/q53 discipline), ranks tie-break by id, and the fused score
    * is two double terms summed in a fixed order. Scale shape: the
    * legs are rank-windowed ONCE each over hash-partitioned relations,
    * the fusion join is rank-bounded (top-N per leg would bound it at
    * corpus scale), nothing quadratic. */
  def q115HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val emb = table(spark, dir, "embeddings")
    val lex = graft.ops.TextAnalysis.bm25(docs,
        queryTerms = Seq("spark", "hash", "window"))
      .select(col("id").as("doc_id"), round(col("score"), 6).as("ls"))
    // the two corpus-wide leg rankings through Corpus.globalRank —
    // exact global row_number at full parallelism (a bare
    // Window.orderBy funnels the corpus through ONE task; the
    // two-phase range-partitioned shape is the 100 TB formulation and
    // bit-identical under the id tie-break); the BOUNDED fused rank
    // below takes Corpus.rankedHead instead
    val lexRank = graft.ops.Corpus.globalRank(lex,
        Seq(col("ls").desc, col("doc_id").asc), "lex_rank")
      .select("doc_id", "lex_rank")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val vec = emb.join(docs.select(col("doc_id")),
        emb("vec_id") === docs("doc_id"))
      .crossJoin(broadcast(qv))
      .select(col("doc_id"),
        graft.ops.Dedup.cosine(col("embedding"), col("qv")).as("cs"))
    val vecRank = graft.ops.Corpus.globalRank(vec,
        Seq(col("cs").desc, col("doc_id").asc), "vec_rank")
      .select("doc_id", "vec_rank")
    val fused = lexRank.join(vecRank, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
    // the fused rank is CONSUMED bounded (top-20), so it takes the
    // rankedHead form — TakeOrdered + a ≤ 20-row window — instead of a
    // third corpus-wide range sort (optimization round 18; bit-equal
    // under the total (rrf, doc_id) order, hash-gated)
    graft.ops.Corpus.rankedHead(fused,
        Seq(col("rrf").desc, col("doc_id").asc), 20, "rank")
      .select(col("doc_id"),
        coalesce(col("lex_rank").cast("long"), lit(-1L)).as("lex_rank"),
        coalesce(col("vec_rank").cast("long"), lit(-1L)).as("vec_rank"),
        round(col("rrf"), 6).as("rrf"),
        col("rank").cast("long").as("rank"))
  }

  /** STORE-AS-CORPUS read gate (round 17): [[graft.streaming
    * .IvfSqStream.liveVectors]] — the masked, latest-wins,
    * tombstone-free relation a downstream batch job consumes without
    * searching. The store accretes the planted corpus over 3 commits,
    * a CHURN tick re-upserts two of each query's five planted copies
    * (the q112 vectors), and a TOMBSTONE deletes query 0's c=3 copy;
    * liveVectors then must read exactly the latest corpus minus the
    * deletion, vector VALUES included (first component, rounded — the
    * plantedCtes float discipline makes it bit-comparable), in BOTH
    * store states. Under the pre-election semantics the churned ids
    * would read two rows (or the stale vector); without the tombstone
    * mask the deleted id would resurface. */
  def q117StoreCorpus(spark: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(spark, dir)
    val emb = table(spark, dir, "embeddings")
    val store = java.nio.file.Files.createTempDirectory("q117live").toString
    scala.sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(store))
    }
    (0 until 3).foreach { c =>
      graft.streaming.IvfSqStream.upsertStep(
        corpus.filter(pmod(col("vec_id"), lit(3)) === c), store,
        dim = 64, nlist = 16, seed = 41L, batchTag = s"a$c")
    }
    // churn (the q112 formula): v2 of the c ∈ {1, 2} planted ids
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").cast("long").as("qid"), col("embedding").as("qv"))
    val u = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select((col("vec_id") - 10).cast("long").as("qid"),
        col("embedding").as("uv"))
    val v2 = q.join(u, "qid")
      .select(col("qid"), col("qv"), col("uv"),
        explode(sequence(lit(1), lit(2))).as("c"))
      .select(
        (lit(1L << 40) + col("qid") * 5 + col("c")).cast("long").as("vec_id"),
        zip_with(col("qv"), col("uv"), (a, b) =>
          (lit(0.5) * a.cast("double") + lit(0.5) * b.cast("double"))
            .cast("float")).as("embedding"))
    graft.streaming.IvfSqStream.upsertStep(v2, store,
      dim = 64, nlist = 16, seed = 41L, batchTag = "churn")
    // tombstone: query 0's c=3 planted copy
    graft.streaming.IvfSqStream.deleteStep(
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row((1L << 40) + 3L))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false)))),
      store, batchTag = "del")
    def live(state: String): DataFrame =
      graft.streaming.IvfSqStream.liveVectors(spark, store)
        .select(col("neighbor_id").as("vec_id"),
          round(element_at(col("cvec"), 1).cast("double"), 6).as("c1"),
          lit(state).as("state"))
    val preDf = live("pre")
    val pre = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(
        preDf.collect(): _*)), preDf.schema)
    graft.streaming.IvfSqStream.compactStore(spark, store)
    pre.unionByName(live("post"))
  }

  /** MMR diversity re-rank (round 17): maximal marginal relevance over
    * an exact cosine shortlist — the curation/retrieval op that trades
    * relevance against redundancy (λ = 0.5): step 1 takes the most
    * relevant candidate, every later step takes
    * argmax(0.5·rel − 0.5·max-sim-to-selected), ids ascending on ties.
    * On the planted corpus the semantics are visible by construction:
    * a plain top-5 is the query's five near-identical planted copies,
    * while MMR keeps ONE copy and diversifies into distractors (the
    * remaining copies pay their ~0.999 similarity to the first).
    * Scale shape: the shortlist is the bounded [[SimilaritySearch
    * .bruteForceTopK]] relation (N = 20 per query), candidate vectors
    * join in ONCE, and the greedy loop runs per-query inside
    * `flatMapGroups` over ≤ N-row groups — O(queries) groups, O(N²·k)
    * arithmetic per group, nothing driver-side, no cross-query state.
    * The oracle unrolls the five greedy steps as chained CTEs (the q59
    * PageRank idiom) over the same shortlist and pairwise-sim
    * relations — selection-sequence equality IS the gate. */
  def q116MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = annCorpus(spark, dir)
    val queries = corpus.filter(col("vec_id") < 10)
    val short = SimilaritySearch.bruteForceTopK(queries, corpus, k = 20)
      .select(col("query_id"), col("neighbor_id"), col("cos").as("rel"))
    val withVec = short.join(
      corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cvec")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("cvec"))
      .as[(Long, Long, Double, Array[Float])]
    withVec.groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Array[Float])]) =>
        val cands = it.map { case (_, nid, rel, v) => (nid, rel, v) }.toArray
        val selectedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        val used = scala.collection.mutable.Set.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        val k = math.min(5, cands.length)
        var step = 1
        while (step <= k) {
          var bestNid = -1L
          var bestVec: Array[Float] = null
          var bestScore = Double.NegativeInfinity
          cands.foreach { case (nid, rel, v) =>
            if (!used(nid)) {
              val score =
                if (selectedVecs.isEmpty) rel
                else {
                  var mx = Double.NegativeInfinity
                  selectedVecs.foreach { sv =>
                    val sim = graft.streaming.StoreCommits.cosineSeq(v, sv)
                    if (sim > mx) mx = sim
                  }
                  0.5 * rel - 0.5 * mx
                }
              if (score > bestScore ||
                  (score == bestScore && (bestNid < 0 || nid < bestNid))) {
                bestScore = score; bestNid = nid; bestVec = v
              }
            }
          }
          used += bestNid
          selectedVecs += bestVec
          out += ((qid, bestNid, step.toLong))
          step += 1
        }
        out.iterator
      }
      .toDF("query_id", "neighbor_id", "mmr_rank")
  }

  /** MULTIMODAL audio, AIFF/AIFF-C (round 17): the big-endian EA IFF
    * 85 mirror of RIFF/WAV — `FORM`/`AIFF` + `COMM` (channels s16,
    * sampleFrames u32, sampleSize s16, sampleRate as an 80-bit IEEE
    * extended float) + `SSND` payload — synthesized per doc_id
    * ([[graft.ops.MediaSynth.aiffAssetFor]]) and decoded only by the
    * real chunk walk + extended-float decode
    * ([[graft.ops.AudioCodecs.decodeAiff]]). The oracle restates the
    * synthesis arithmetic from the id alone (the q103/q105 idiom) —
    * `decodeAudioInfo` now dispatches SEVEN audio families. */
  def q114MultimodalAiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val assets = table(spark, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map(graft.ops.MediaSynth.aiffAssetFor)
    graft.ops.Multimodal.decodeAudioInfo(assets)
      .toDF()
      .select(col("asset_id").as("doc_id"), col("fmt"),
        col("channels").cast("long").as("channels"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_units"), col("duration_ms"), col("n_bytes"))
  }

  /** FILTERED ANN search (round 17): attribute-constrained top-k over
    * a DURABLE store — the serving path a real corpus needs (tenant /
    * licence / freshness predicates composed with vector search). The
    * batch tiers need no API for this (their corpus is a DataFrame the
    * caller filters before the build), but a store's index is already
    * built, so the predicate rides the search: `candidateFilter`
    * applies to the pruned scan BEFORE scoring and the re-rank —
    * PRE-filtering, so the answer is the exact top-k over the
    * qualifying subset (post-filtering a fixed-size shortlist silently
    * loses recall under selective filters). Gate: the q109-shaped
    * IVF-SQ8 store searched under `neighbor_id % 2 = 0` at k = 2,
    * against the planted brute-force oracle with the same predicate.
    * k = 2 is load-bearing: the parity filter keeps two planted copies
    * for even query ids (c ∈ {2,4}) and three for odd (c ∈ {1,3,5}),
    * so the top-2 is provably all-planted (floor ≥ 0.99 vs distractor
    * ceiling 0.61) and inside the probed cells — exact under pruning —
    * while an UNFILTERED search would answer c ∈ {1,2} for even qids
    * and hash-mismatch immediately. (Deeper ranks fall to distractors,
    * where nprobe pruning is legitimately lossy — not gateable.) */
  def q113FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val corpus = annCorpus(spark, dir)
    val store = java.nio.file.Files.createTempDirectory("q113filt").toString
    scala.sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(store))
    }
    (0 until 3).foreach { c =>
      graft.streaming.IvfSqStream.upsertStep(
        corpus.filter(pmod(col("vec_id"), lit(3)) === c), store,
        dim = 64, nlist = 16, seed = 41L, batchTag = s"a$c")
    }
    graft.streaming.IvfSqStream.searchStore(
        spark, store, corpus.filter(col("vec_id") < 10), k = 2,
        nprobe = 10, rerank = 192,
        candidateFilter = Some(pmod(col("neighbor_id"), lit(2)) === 0))
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** MULTIMODAL audio beyond WAV ([[graft.ops.AudioCodecs]], round 14):
    * deterministic MPEG-1 Layer III streams (ID3v2 skip + frame-header
    * sync walk over the published bitrate/samplerate tables) and FLAC
    * files (metadata-block walk to STREAMINFO's 20/3/5/36-bit packed
    * fields) synthesized per doc_id ([[graft.ops.MediaSynth
    * .audioAssetFor]]), decoded ONLY by the real header walks — the
    * oracle restates the synthesis arithmetic from the id alone, so any
    * writer/parser drift breaks the hash (the q98/q99/q100 idiom,
    * closing the audio gap: a crawl corpus's audio is MP3/FLAC, not
    * WAV). */
  def q103MultimodalAudio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val assets = table(spark, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map(graft.ops.MediaSynth.audioAssetFor)
    graft.ops.Multimodal.decodeAudioInfo(assets)
      .toDF()
      .select(col("asset_id").as("doc_id"), col("fmt"),
        col("channels").cast("long").as("channels"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_units"), col("duration_ms"), col("n_bytes"))
  }

  /** MULTIMODAL audio, the OGG container pair (round 15): RFC 3533
    * page streams carrying a Vorbis I identification header or an
    * RFC 7845 OpusHead, synthesized per doc_id with REAL page CRCs
    * ([[graft.ops.MediaSynth.oggAssetFor]]) and decoded ONLY by the
    * real page walk ([[graft.ops.AudioCodecs.decodeOgg]]: first-packet
    * codec dispatch + last-page granule for duration, with the Opus
    * 48 kHz clock and pre-skip subtraction). The oracle restates the
    * synthesis arithmetic from the id alone (the q103 idiom) —
    * `decodeAudioInfo` now dispatches FOUR audio magics
    * (RIFF/fLaC/OggS/MP3). `n_units` is the last granule position:
    * PCM samples for Vorbis, the 48 kHz tick count (pre-skip included)
    * for Opus. */
  def q105MultimodalOgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val assets = table(spark, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map(graft.ops.MediaSynth.oggAssetFor)
    graft.ops.Multimodal.decodeAudioInfo(assets)
      .toDF()
      .select(col("asset_id").as("doc_id"), col("fmt"),
        col("channels").cast("long").as("channels"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_units"), col("duration_ms"), col("n_bytes"))
  }

  /** MULTIMODAL audio, the M4A/AAC container (round 16): ISO-BMFF box
    * trees carrying a `soun` trak whose `mp4a` sample entry nests a
    * REAL MPEG-4 `esds` descriptor chain (objectTypeIndication 0x40,
    * AAC-LC AudioSpecificConfig), synthesized per doc_id
    * ([[graft.ops.MediaSynth.m4aAssetFor]]) and decoded ONLY by the
    * real box walk ([[graft.ops.RiffCodecs.decodeM4a]]: hdlr dispatch,
    * mdhd sample clock, 16.16 sample rate, expandable-length
    * descriptor parse). The oracle restates the synthesis arithmetic
    * from the id alone (the q103/q105 idiom) — `decodeAudioInfo` now
    * dispatches FIVE audio families (RIFF/fLaC/OggS/MP3/ftyp-M4A).
    * `n_units` is the mdhd duration = total PCM samples. */
  def q106MultimodalM4a(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val assets = table(spark, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map(graft.ops.MediaSynth.m4aAssetFor)
    graft.ops.Multimodal.decodeAudioInfo(assets)
      .toDF()
      .select(col("asset_id").as("doc_id"), col("fmt"),
        col("channels").cast("long").as("channels"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_units"), col("duration_ms"), col("n_bytes"))
  }

  /** MULTIMODAL audio, raw ADTS-AAC transport streams (round 16): the
    * streaming sibling of q106's ISO-BMFF container — back-to-back
    * 0xFFF-sync frames whose 13-bit lengths chain the walk, with BOTH
    * header forms in corpus (protection_absent and the 9-byte CRC
    * form on id%3 = 0), synthesized per doc_id
    * ([[graft.ops.MediaSynth.adtsAssetFor]]) and decoded ONLY by the
    * real frame walk ([[graft.ops.AudioCodecs.decodeAdts]]). The
    * dispatch disambiguates ADTS from MP3 on the layer bits ('00' vs
    * '01') under the shared 0xFFF sync. The oracle restates the
    * synthesis arithmetic from the id alone (the q103/q105/q106
    * idiom); `n_units` is raw-data-blocks × 1024 PCM samples. */
  def q107MultimodalAdts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val assets = table(spark, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map(graft.ops.MediaSynth.adtsAssetFor)
    graft.ops.Multimodal.decodeAudioInfo(assets)
      .toDF()
      .select(col("asset_id").as("doc_id"), col("fmt"),
        col("channels").cast("long").as("channels"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_units"), col("duration_ms"), col("n_bytes"))
  }

  /** Corpus delta audit ([[Corpus.deltaAudit]]) between two
    * deterministic synthetic versions of the documents table (old drops
    * doc_id ≡ 5 mod 13; new drops doc_id ≡ 3 mod 17 and rewrites
    * doc_id ≡ 0 mod 11): per-id added/removed/changed/unchanged — the
    * delivery-diff step. */
  def q92CorpusDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val vOld = docs.filter(col("doc_id") % 13 =!= 5)
    val vNew = docs.filter(col("doc_id") % 17 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    Corpus.deltaAudit(vOld, vNew)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for a training-data pipeline, in increasing
  * sophistication: exact (content hash), n-gram Jaccard, MinHash+LSH,
  * SimHash, embedding-cosine near-dup.
  *
  * Scale design notes (100 TB):
  *   - exact dedup is one hash-shuffle on a 16-byte key (not the text);
  *   - pairwise ops never cross-join the corpus — candidate generation
  *     goes through LSH band buckets or blocking keys, so the shuffle
  *     carries (band, signature) pairs, not documents;
  *   - all hashes are Spark-built-in xxhash64 / murmur3 — codegen'd,
  *     no UDF in the hot path.
  *
  * CACHE LIFECYCLE CONTRACT: the pairwise operators (ngramJaccardPairs,
  * lshCandidatePairs, minhashDedupPairs) persist intermediate relations
  * (shingles/buckets/signatures) that are consumed more than once in
  * the SAME returned plan, so they cannot unpersist before the caller's
  * action runs. A long-lived session invoking them repeatedly must
  * release those blocks after consuming each result —
  * `spark.catalog.clearCache()` between operator calls (what Bench and
  * Verify do) or `unpersist()` on the returned plan's sources. A
  * one-shot job can ignore this (executor teardown frees the blocks).
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ------------------------------------------------- pair-key packing

  /** Single-long pair-key packing for the (id1, id2) shuffles that
    * dominate the pairwise family. When the corpus's integral id span
    * fits in 32 bits (one tiny agg over the caller's already-persisted
    * keyed relation), (id1−base, id2−base) packs bijectively into ONE
    * long via shiftleft|bitwiseOR — pure bit concatenation, valid even
    * across the sign bit — so the downstream distinct/count aggregate
    * hashes and shuffles one 8-byte key instead of two (24→16 bytes
    * per group row). Measured honestly with interleaved A/B rounds in
    * a canary-validated quiet window (PairGenProfile, 183M-row sf1
    * pair stream): packed won every matched round by 5–30%; earlier
    * 2× readings were host-steal artifacts, so the pack is a modest
    * constant-factor win whose real value is the strictly smaller
    * shuffle at 100 TB. Wide ids (e.g. xxhash64-bridged string keys)
    * return None and callers keep the generic two-key aggregate with
    * identical output and schema. */
  /** TRUE iff `df` carries duplicate `idCol` values — the narrow probe
    * (optimization round 17) that lets the dirty-input guards skip
    * shuffling document TEXT in the dup-free common case: the scan
    * prunes to the id column, only ids cross the probe's exchange, one
    * collected row. count(lit(1)) vs count_distinct(id) also trips on
    * NULL ids (conservative: those route to the guarded path).
    *
    * DETERMINISTIC-INPUT REQUIREMENT (round-18 ADVICE): the probe is a
    * SEPARATE scan of `df` from the main pipeline, so a
    * nondeterministic source (an upstream `sample`/keyless `limit`)
    * could probe clean and then produce duplicate ids in the main
    * pass, silently skipping the guard. Same contract as every
    * deterministic-by-id operator in this module (the md5/hash algebra
    * all assumes re-scans observe the same rows); callers with a
    * nondeterministic source must persist it first. */
  private[ops] def hasDuplicateIds(df: DataFrame, idCol: String): Boolean = {
    val r = df.agg(count(lit(1)).as("n"),
      count_distinct(col(idCol)).as("d")).collect()(0)
    r.getLong(0) != r.getLong(1)
  }

  /** [[hasDuplicateIds]] and [[pairPackBase]] fused into ONE probe
    * aggregate (optimization round 17): ngramJaccardPairs needs both,
    * and each costs a job of pure scheduling floor at bench scale —
    * one pruned id-column scan answers min/max/count/distinct
    * together. */
  private[ops] def idProbe(df: DataFrame, idCol: String)
      : (Option[(Long, org.apache.spark.sql.types.DataType)], Boolean) = {
    import org.apache.spark.sql.types._
    df.schema(idCol).dataType match {
      case t @ (ByteType | ShortType | IntegerType | LongType) =>
        val r = df.agg(min(col(idCol).cast("long")).as("mn"),
          max(col(idCol).cast("long")).as("mx"),
          count(lit(1)).as("n"),
          count_distinct(col(idCol)).as("d")).collect()(0)
        val base =
          if (!r.isNullAt(0) &&
              BigInt(r.getLong(1)) - BigInt(r.getLong(0)) < (BigInt(1) << 32))
            Some((r.getLong(0), t))
          else None
        (base, r.getLong(2) != r.getLong(3))
      case _ => (None, hasDuplicateIds(df, idCol))
    }
  }

  private[ops] def pairPackBase(keyed: DataFrame, idCol: String = "id")
      : Option[(Long, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    val idType = keyed.schema(idCol).dataType
    idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val r = keyed.agg(min(col(idCol).cast("long")).as("mn"),
          max(col(idCol).cast("long")).as("mx")).collect()(0)
        if (!r.isNullAt(0) &&
            BigInt(r.getLong(1)) - BigInt(r.getLong(0)) < (BigInt(1) << 32))
          Some((r.getLong(0), idType))
        else None
      case _ => None // string/decimal ids: generic path only
    }
  }

  private def packPair(base: Long): Column = {
    // fail LOUDLY if a caller-supplied probe relation did not actually
    // bound the pair ids (offset outside [0, 2^32) would sign-bleed
    // into the other id's field and silently merge unrelated pairs);
    // two codegen'd comparisons per row, nothing next to the shuffle
    def off(c: String): Column = {
      val o = col(c).cast("long") - base
      when(o >= 0L && o < (1L << 32), o).otherwise(raise_error(concat(
        lit(s"pairPack: $c offset out of [0, 2^32) — the packFrom/probe " +
          "relation does not bound the pair ids (value "),
        col(c).cast("string"), lit(s", base $base)"))))
    }
    shiftleft(off("id1"), 32).bitwiseOR(off("id2"))
  }

  private def unpackPair(base: Long,
      idType: org.apache.spark.sql.types.DataType): Seq[Column] = Seq(
    (shiftrightunsigned(col("_pk"), 32) + base).cast(idType).as("id1"),
    (col("_pk").bitwiseAND(lit((1L << 32) - 1)) + base).cast(idType).as("id2"))

  /** `pairs.select(id1, id2).distinct()` through the packed fast path
    * when `pack` is available, the generic two-key distinct otherwise. */
  private[ops] def distinctPairs(pairs: DataFrame,
      pack: Option[(Long, org.apache.spark.sql.types.DataType)]): DataFrame =
    pack match {
      case Some((b, t)) =>
        pairs.select(packPair(b).as("_pk")).distinct().select(unpackPair(b, t): _*)
      case None => pairs.select("id1", "id2").distinct()
    }

  /** `pairs.groupBy(id1, id2).agg(count(1) as cntName)` through the
    * packed fast path when `pack` is available. */
  private[ops] def countPairs(pairs: DataFrame,
      pack: Option[(Long, org.apache.spark.sql.types.DataType)],
      cntName: String): DataFrame =
    pack match {
      case Some((b, t)) =>
        pairs.groupBy(packPair(b).as("_pk")).agg(count(lit(1)).as(cntName))
          .select(unpackPair(b, t) :+ col(cntName): _*)
      case None => pairs.groupBy("id1", "id2").agg(count(lit(1)).as(cntName))
    }

  // ---------------------------------------------------------------- exact

  /** Exact dedup on a content hash: keep the lowest-id representative
    * per distinct text. One shuffle on the md5, no text comparison. */
  def exactDedup(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))

  /** The deduplicated view itself (rows whose id is the representative). */
  def exactDedupRows(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Exact-substring duplicate SPANS (the ExactSubstr tier of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", restated hash-first): every STRIDE-1 window of
    * `windowWords` words is hashed; a window seen anywhere earlier in
    * the corpus (first occurrence = smallest (doc_id, pos)) marks its
    * positions duplicated; per document, overlapping/adjacent
    * duplicated windows merge into MAXIMAL spans (gaps-and-islands).
    * Returns (id, span_start, span_end, n_windows) in 1-based token
    * positions — the removable regions, which is exactly what the
    * suffix-array formulation produces for repeats ≥ windowWords.
    *
    * vs [[spanDedup]]: that operator cuts NON-overlapping fixed chunks
    * (CCNet paragraph removal — cheap, chunk-aligned); this one finds
    * duplicated regions at ANY alignment, the property the suffix
    * array buys, at stride-1 window cost.
    *
    * Scale shape: the corpus explodes to one (id, pos, hash) row per
    * token position — the inherent cost of alignment-free exact-substr
    * (Lee et al.'s suffix array is likewise tokens-sized); the shuffle
    * carries hashes, never window text. First-occurrence election is a
    * per-hash MIN aggregation (partial aggregation absorbs hot keys
    * map-side) joined back to mark non-minimal windows — NOT a
    * row_number window over the hash, which would force every
    * occurrence of one boilerplate 10-gram (license headers, nav text:
    * 10⁸ repeats at 100 TB) into a single task's sort. The join-back is
    * likewise keyed on the hash, but a skewed JOIN partition is
    * AQE-splittable (the one-row-per-hash build side replicates); a
    * skewed window sort is not. Span merging is a per-document window
    * (partitioned by doc, never global). All built-in exprs
    * (slice/array_join/md5/lag/sum) — codegen'd, UDF-free, and
    * restatable in ANSI SQL, which is what the q66 DuckDB oracle does.
    * Hash note: md5 default so the oracle can recompute it;
    * `hashMode = "xxhash64"` is the production twin — 8-byte long keys,
    * ~4× less shuffle than 32-char hex md5 strings, property-gated
    * equal-spans vs the md5 path. A collision producing a false
    * duplicate is the standard content-hash trust, same as
    * [[exactDedup]] (~2⁻⁶⁴ at corpus scale for md5; xxhash64's 64-bit
    * space is ample below ~10⁹ distinct windows — size accordingly). */
  def exactSubstrSpans(
      df: DataFrame, windowWords: Int = 10,
      idCol: String = "doc_id", textCol: String = "text",
      hashMode: String = "md5"): DataFrame =
    exactSubstrSpansWithRelease(df, windowWords, idCol, textCol, hashMode)._1

  /** [[exactSubstrSpans]] plus an explicit RELEASE HANDLE for the
    * tokens-sized wins relation it persists — same contract as
    * [[simhashPairsWithRelease]]/[[PageRank.pageRankWithRelease]]: the
    * returned plan consumes the persisted relation lazily, so call the
    * handle only AFTER the result is consumed (or abandoned). Library
    * callers running repeated sweeps in one long-lived session use
    * this twin; Bench/Verify-style harnesses can keep using
    * `spark.catalog.clearCache()`. */
  def exactSubstrSpansWithRelease(
      df: DataFrame, windowWords: Int = 10,
      idCol: String = "doc_id", textCol: String = "text",
      hashMode: String = "md5"): (DataFrame, () => Unit) = {
    require(hashMode == "md5" || hashMode == "xxhash64",
      s"hashMode must be md5 or xxhash64 (got $hashMode)")
    val L = windowWords
    val ws = filter(split(col(textCol), " "), w => length(w) > 0)
    val winHash: Column => Column =
      if (hashMode == "md5") md5 else (c: Column) => xxhash64(c)
    // stride-1 windows: pos = 1..len-L+1 (1-based), hash of the joined
    // window text (join-with-space is bijective for space-split tokens)
    // Persisted (same CACHE LIFECYCLE CONTRACT as the pairwise
    // operators): the election consumes wins twice — the per-hash min
    // aggregation and the join-back — and recomputing the stride-1
    // hash explode doubles the dominant scan cost. MEMORY_AND_DISK:
    // tokens-sized, spills rather than OOMs (Lee et al.'s suffix
    // array is likewise a materialized tokens-sized intermediate).
    val wins = df
      .select(col(idCol).as("id"), ws.as("ws"))
      .filter(size(col("ws")) >= L)
      .select(col("id"), posexplode(transform(
        sequence(lit(1), size(col("ws")) - (L - 1)),
        p => winHash(array_join(slice(col("ws"), p, lit(L)), " ")))))
      .select(col("id"), (col("pos") + 1).as("p"), col("col").as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // first occurrence keeps (global order: doc asc, pos asc); every
    // later (id, p) of the same hash is a duplicated window. min(struct)
    // is partial-aggregatable — hot hashes combine map-side. Only
    // hashes occurring >= 2 times can mark anything, so the join-back
    // build side is duplicated-hashes-sized (tiny on real corpora) —
    // AQE broadcasts it and the tokens-sized wins relation is never
    // re-shuffled for the join.
    val firsts = wins.groupBy("h")
      .agg(min(struct(col("id"), col("p"))).as("f"), count(lit(1)).as("_n"))
      .filter(col("_n") >= 2)
    val dups = wins.join(firsts, Seq("h"))
      .filter(struct(col("id"), col("p")) =!= col("f"))
      .select("id", "p")
    // gaps-and-islands per document: windows starting ≤ L apart
    // overlap or touch — merge into one maximal span
    val byDoc = Window.partitionBy("id").orderBy(col("p").asc)
    val spans = dups
      .withColumn("_prev", lag(col("p"), 1).over(byDoc))
      .withColumn("_new",
        when(col("_prev").isNull || col("p") > col("_prev") + L, 1).otherwise(0))
      .withColumn("_grp", sum(col("_new")).over(byDoc))
      .groupBy(col("id"), col("_grp"))
      .agg(min(col("p")).cast("long").as("span_start"),
        (max(col("p")) + (L - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .drop("_grp")
    (spans, () => { wins.unpersist(blocking = false); () })
  }

  /** Apply [[exactSubstrSpans]]' output to the corpus: cut the
    * duplicated token ranges out of each document's text and emit the
    * CLEANED corpus — the product Lee et al.'s ExactSubstr pipeline
    * actually ships (first occurrences survive by construction, since
    * the span generator never marks them). Output: (id, clean_text,
    * n_removed) where n_removed counts removed token positions;
    * documents with no spans pass through verbatim.
    *
    * Scale shape: spans aggregate per doc into one array (the spans
    * relation is duplicated-regions-sized, orders of magnitude below
    * the corpus), then ONE join on the doc id brings them to the text;
    * the cut itself is per-row codegen'd array algebra — each token
    * keeps iff no span covers its position (`exists` over the per-doc
    * span array; spans per doc are few, so the scan is cheap). No
    * explode, no tokens-sized shuffle — the only shuffled relations
    * are the spans and the per-doc span arrays. Tokenization is the
    * same empty-filtered space split as the span generator, so
    * positions line up exactly; rejoining with single spaces is the
    * same normalization every downstream operator of this module
    * applies. */
  def applySubstrSpans(
      df: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val byDoc = spans
      .groupBy(col("id"))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
        .as("_spans"))
    val ws = filter(split(col(textCol), " "), w => length(w) > 0)
    df.select(col(idCol).as("id"), ws.as("_ws"))
      .join(byDoc, Seq("id"), "left")
      .select(col("id"),
        when(col("_spans").isNull, col("_ws")).otherwise(
          filter(transform(col("_ws"), (w, i) =>
            struct(w.as("w"), (i + 1).as("p"))),
            t => !exists(col("_spans"),
              sp => t("p") >= sp("s") && t("p") <= sp("e")))
            .apply("w")).as("_kept"),
        size(col("_ws")).as("_n"))
      .select(col("id"),
        array_join(col("_kept"), " ").as("clean_text"),
        (col("_n") - size(col("_kept"))).cast("long").as("n_removed"))
  }

  /** Span-level (sub-document) dedup — the paragraph-removal step of a
    * CCNet-style pipeline, adapted to unstructured text: each document
    * is cut into consecutive non-overlapping `windowWords`-word spans,
    * and a span that occurs anywhere else in the corpus is kept ONLY in
    * the lowest-id document that contains it. Returns per-document
    * stats: (id, n_spans, n_kept, kept_chars) where n_kept counts the
    * distinct spans this document is the global representative of.
    *
    * Scale shape: the only relations shuffled are (id, md5, len)
    * triples — 28 bytes/span, never the text — through two hash
    * aggregations (per-hash keeper, per-doc rollup) and one join on the
    * id. Span chunking itself is codegen'd array algebra
    * (`transform`/`slice`/`array_join`) inside the scan stage; no UDF,
    * no window over a global key. */
  def spanDedup(
      df: DataFrame,
      windowWords: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(windowWords > 0, "windowWords must be positive")
    // word array BOUND once as a column alias (optimization round 17):
    // `ws` was referenced INSIDE the per-chunk lambda, so every chunk
    // re-ran the split — O(words²/W) splitting per row, the exact
    // interpreted-HOF quadratic of the round-16 q96 finding
    // ceil(size/W) chunk starts; greatest(,1) guards sequence(0,-1)
    // (Spark would count DOWN) — the lone empty span filters out below
    val nChunks = greatest(
      ceil(size(col("_ws")) / lit(windowWords.toDouble)).cast("int"), lit(1))
    val spans = df
      .select(col(idCol).as("id"), split(col(textCol), " ").as("_ws"))
      .select(
        col("id"),
        explode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(col("_ws"), i * windowWords + 1, lit(windowWords)), " "))).as("span"))
      .filter(length(col("span")) > 0)
      .select(col("id"), md5(col("span")).as("h"), length(col("span")).as("len"))
    val perDoc = spans.groupBy("id").agg(count(lit(1)).as("n_spans"))
    // identical span text ⇒ identical length, so max(len) is THE length
    val keepers = spans.groupBy("h")
      .agg(min(col("id")).as("id"), max(col("len")).as("len"))
    val keptPerDoc = keepers.groupBy("id")
      .agg(count(lit(1)).as("n_kept"), sum(col("len")).cast("long").as("kept_chars"))
    perDoc.join(keptPerDoc, Seq("id"), "left")
      .select(col("id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_chars"), lit(0L)).as("kept_chars"))
  }

  // ------------------------------------------------------ n-gram Jaccard

  /** Word n-gram (shingle) set per document, as an exploded
    * (id, shingle) STRING relation — for callers that need the gram
    * text itself (debugging, reporting, external interchange). The
    * set-similarity operators all build on [[shingleHashes]], which
    * never materializes the gram strings. Bigrams (the common case)
    * build via one zip_with against the shifted array — a single
    * pass, no per-index slice allocation. */
  def shingles(df: DataFrame, n: Int, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(col(idCol).as("id"), explode(gramArray(col(textCol), n)).as("shingle"))

  private[ops] def gramArray(text: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    val words = split(text, " ")
    if (n == 1) array_distinct(words)
    else if (n == 2) array_distinct(
      filter(
        // zip_with pads the shorter (shifted) side with null; the final
        // (last-word, null) pair filters out. Word array BOUND once
        // (optimization round 17): the three `words` references in one
        // zip_with re-ran the split 3x per row — interpreted HOFs get
        // no CSE (the generic-branch rationale, applied here too)
        element_at(
          transform(array(words), ws =>
            zip_with(ws, slice(ws, lit(2), size(ws)),
              (a, b) => when(b.isNotNull, concat(a, lit(" "), b)))),
          1),
        g => g.isNotNull))
    else array_distinct(
      filter(
        // the word array is BOUND once as a lambda variable (via the
        // one-element array wrapper) before the per-position transform:
        // higher-order functions evaluate INTERPRETED, with no
        // common-subexpression elimination — an unbound `words`
        // re-evaluates the split per reference, i.e. O(n·w) splits of
        // the text per row (round 16: measured as the q96 wall, all
        // workers in StringSplit.nullSafeEval)
        element_at(
          transform(array(words), ws =>
            transform(ws, (_, i) =>
              when(i <= size(ws) - n,
                concat_ws(" ", slice(ws, i + lit(1), lit(n)))))),
          1),
        g => g.isNotNull))
  }

  /** Hashed n-gram set per document, as an exploded (id, sh: long)
    * relation — what every HASH-KEYED consumer (Jaccard posting lists,
    * MinHash, contamination, the incremental dedup stream) actually
    * needs. The gram key is the word-chained variadic `xxhash64(w_i,
    * …, w_{i+n-1})`: hashing consumes each word's bytes once and never
    * materializes a gram string, where `xxhash64(concat(...))` built
    * (and GC'd) ~n× the corpus text just to throw it away. Distinctness
    * is enforced on the hash — the same collision class as hashing
    * distinct strings, since every consumer keys on the hash either
    * way. NOTE: this is a different key space than
    * `xxhash64(shingles(...).shingle)` — persisted MinHash stores built
    * before the switch are a different signature family (rebuild, or
    * pin the old store to the old code). */
  def shingleHashes(
      df: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(col(idCol).as("id"), explode(gramHashArray(col(textCol), n)).as("sh"))

  private[ops] def gramHashArray(
      text: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    val words = split(text, " ")
    if (n == 1) array_distinct(transform(words, w => xxhash64(w)))
    else if (n == 2) array_distinct(
      filter(
        // bound-variable form (optimization round 17) — one split per
        // row instead of 3 interpreted re-splits, see gramArray
        element_at(
          transform(array(words), ws =>
            zip_with(ws, slice(ws, lit(2), size(ws)),
              (a, b) => when(b.isNotNull, xxhash64(a, b)))),
          1),
        g => g.isNotNull))
    else array_distinct(
      filter(
        // bound-variable form — the gramArray generic-branch rationale:
        // 1 split per row instead of ~(n+1)·w interpreted re-splits
        element_at(
          transform(array(words), ws =>
            transform(ws, (_, i) =>
              when(i <= size(ws) - n,
                xxhash64((0 until n).map(k => element_at(ws, i + lit(k + 1))): _*)))),
          1),
        g => g.isNotNull))
  }

  /** Exact pairwise n-gram Jaccard for candidate pairs sharing a
    * blocking key. Emits integer intersection/union sizes (exact
    * arithmetic — ratios left to the caller) for pairs with
    * inter_n >= minIntersect, id1 < id2.
    *
    * Scale design: the shingle-shingle self-join is quadratic in each
    * shingle's document frequency, so (a) an optional `blockCol`
    * (source/shard/crawl key) restricts pairing to within-block — the
    * standard formulation for shard-local near-dup sweeps, collapsing
    * hot-shingle blowup by the block count; (b) the join key is
    * xxhash64(shingle), an 8-byte long instead of the shingle text —
    * the shuffle carries hashes, not strings. Cross-block global dedup
    * is MinHash-LSH territory (minhashDedupPairs). */
  /** @param maxDocFrequency optional cap on a shingle's per-block doc
    *   frequency: a shingle shared by more docs than this emits NO
    *   pairs (its df² pair fan-out would dominate the sweep, and a
    *   shingle that common carries no similarity signal). None = exact
    *   (oracle-parity) semantics. Not silent: `hotShingles` reports
    *   what a given cap would drop.
    * @param withSizes false drops the union_n column AND the set-size
    *   machinery that produces it (a per-id aggregation plus two
    *   joins) — graph consumers (connected components, the deduped-
    *   corpus projection) key pairs on inter_n alone, and Catalyst
    *   cannot prune the joins away itself (it can't prove the
    *   grouped sizes relation is key-unique). */
  def ngramJaccardPairs(
      df: DataFrame, n: Int, minIntersect: Int = 1,
      idCol: String = "doc_id", textCol: String = "text",
      blockCol: Option[String] = None,
      maxDocFrequency: Option[Int] = None,
      withSizes: Boolean = true): DataFrame = {
    // dirty-input guard at the DOC level — PROBED first (optimization
    // round 17): dropDuplicates(id) exchanges and sort-aggregates the
    // full document TEXT, which at corpus scale shuffles every byte of
    // the corpus to (in the common case) remove nothing. The narrow
    // id-column probe costs one pruned-scan aggregate; only a genuinely
    // dirty input pays the text shuffle. A repeated doc row would
    // otherwise multiply every (id, sh) posting and inflate each pair's
    // intersection count; per-row array_distinct in gramHashArray
    // already guarantees one posting per (doc, shingle)
    val (packBase, dirty) = idProbe(df, idCol)
    val clean = if (dirty) df.dropDuplicates(idCol) else df
    val sh = blockCol match {
      case Some(bc) => shingleHashesWithBlock(clean, n, idCol, textCol, bc)
      case None => shingleHashes(clean, n, idCol, textCol).withColumn("block", lit(0))
    }
    // With `maxDocFrequency`, BOTH the pair counts and the set sizes
    // come from the same cap-filtered relation — Jaccard is computed
    // over the effective (non-hot) shingle universe. Mixing capped
    // intersections with uncapped sizes would bias boilerplate-heavy
    // near-dups far below their true similarity. The cap filters with
    // a count_distinct prefilter (two-phase, O(1) final buffer per
    // key) + aligned semi-join. Uncapped mode (None, oracle parity)
    // documents its blowup as MinHash territory.
    val prefiltered = maxDocFrequency.fold(sh) { c =>
      val cold = sh.groupBy("block", "sh")
        .agg(count_distinct(col("id")).as("n"))
        .filter(col("n") <= c).select("block", "sh")
      sh.join(cold, Seq("block", "sh"), "left_semi")
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Pair generation: sort-merge SELF-JOIN on the (block, sh) posting
    // key. The i<j combinations stream inside the join's codegen inner
    // loop — measured 2.7× faster at sf1 (32.5 → 11.9 s for the same
    // 4.44M edges) than materializing per-bucket id arrays and
    // exploding their combinations, and SMJ spills an oversized key
    // group to disk instead of holding it in an aggregation merge
    // buffer. The emitted pair COUNT is still quadratic in document
    // frequency, which is why `blockCol` bounds df for shard-local
    // sweeps and the unblocked global form is documented as MinHash
    // territory. Both join sides read the one persisted posting
    // relation.
    val a = prefiltered.select(col("id").as("id1"), col("block"), col("sh"))
    val b = prefiltered.select(col("id").as("id2"), col("block"), col("sh"))
    val joined = a.join(b, Seq("block", "sh"))
      .filter(col("id1") < col("id2"))
    // Packed single-long pair key when the id span allows (see
    // pairPackBase) — the count aggregate over this stream is the
    // operator's dominant cost. The span probe reads the DOC-grain
    // input relation (a pruned single-column source scan), NOT the
    // posting relation: probing `prefiltered` would materialize the
    // persist in a separate job and de-pipeline the shingle explode
    // from the join that consumes it (measured +3–4 s on q16 at sf1).
    val pairs = countPairs(joined, packBase, "inter_n")
      .filter(col("inter_n") >= minIntersect)
    if (!withSizes) return pairs
    val sizes = prefiltered.groupBy("id").agg(count(lit(1)).as("set_n"))
    pairs
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("set_n", "n1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("set_n", "n2"), "id2")
      .select(col("id1"), col("id2"), col("inter_n"),
        (col("n1") + col("n2") - col("inter_n")).as("union_n"))
  }

  /** Cross-corpus contamination check (decontamination): corpus
    * documents sharing ≥ `minIntersect` word n-gram shingles with any
    * benchmark document, with the overlap and benchmark set size for
    * containment scoring (`inter_n / bench_n` is the standard
    * benchmark-contamination metric).
    *
    * Scale shape: this is NOT a self-join — the benchmark side (eval
    * sets, a few thousand docs) is orders of magnitude smaller than a
    * 100 TB corpus, so its hashed-shingle relation is broadcast and the
    * corpus streams through map-side; the only shuffle is the per-pair
    * count. Join key is xxhash64(shingle) — 8 bytes, not text. */
  def contaminationPairs(
      corpus: DataFrame, benchmark: DataFrame, n: Int, minIntersect: Int = 1,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // dirty-input guard at the DOC level (the ngramJaccardPairs
    // contract): one tiny shuffle of the doc relation. Per-row
    // array_distinct in gramHashArray then guarantees one posting per
    // (doc, shingle), so the hit rows are (corpus_id, bench_id, sh)-
    // distinct BY CONSTRUCTION — deduplicating the hits instead would
    // shuffle the full corpus-side hit relation (measured: the single
    // largest exchange of the q43 sweep) to remove nothing. The kept
    // row per id is DETERMINISTIC (max md5(text), same hash-agg shape
    // as dropDuplicates): conflicting duplicate ids always contribute
    // the same row's shingles, run over run.
    // probed guard (optimization round 17, the ngramJaccardPairs
    // rationale): the max-by election shuffles the full corpus text —
    // only a genuinely dirty input pays it
    val cleanCorpus =
      if (hasDuplicateIds(corpus, idCol))
        corpus.select(col(idCol), col(textCol))
          .groupBy(col(idCol))
          .agg(max_by(col(textCol), md5(col(textCol))).as(textCol))
      else corpus.select(col(idCol), col(textCol))
    val c = shingleHashes(cleanCorpus, n, idCol, textCol)
      .select(col("id").as("corpus_id"), col("sh"))
    // benchmark side is tiny: full set-dedup is free and protects
    // bench_n/inter_n against duplicated eval rows
    val b = shingleHashes(benchmark, n, idCol, textCol)
      .select(col("id").as("bench_id"), col("sh"))
      .dropDuplicates("bench_id", "sh")
    val bSizes = b.groupBy("bench_id").agg(count(lit(1)).as("bench_n"))
    c.join(broadcast(b), "sh")
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("inter_n"))
      .filter(col("inter_n") >= minIntersect)
      .join(broadcast(bSizes), "bench_id")
      .select(col("corpus_id"), col("bench_id"), col("inter_n"), col("bench_n"))
  }

  /** Bloom-prefiltered contamination sweep — the 100 TB formulation of
    * [[contaminationPairs]], SINGLE-PASS over the corpus (round 16).
    *
    * Design: explode the corpus into hashed-shingle postings ONCE,
    * reject non-benchmark postings map-side with a broadcast Bloom
    * filter (~1.2 B/entry at 1% fpp, vs 8–16 B plus join-map overhead
    * for the exact hashed-shingle table — at eval-suite scale, 10⁶–10⁸
    * benchmark shingles, the order-of-magnitude smaller broadcast is
    * what makes the probe affordable on every executor), and feed the
    * ~0.2% survivors straight into the exact benchmark join. Exactness
    * is structural: Bloom has no false negatives, so every posting
    * that participates in a true intersection survives the probe, and
    * its false positives carry no matching `sh` in the exact join and
    * die there — the spec asserts bit-equality against
    * [[contaminationPairs]].
    *
    * Round-16 footprint audit (verdict #4): the previous two-phase
    * shape (suspect-doc probe pass → density gates → exact re-sweep of
    * survivor docs) scanned the corpus parquet ~4× (density sample,
    * full probe, id count, survivor re-scan) and exploded it ~1.2×.
    * Stage-metrics probe at sf0.1 showed the sweep's TOTAL shuffle is
    * ~2.6 MB — its wall was never exchange-bound; it was the repeated
    * scan+explode passes that made it track host page-cache contention
    * (the q96 4→117 s swings at fixed code). This shape scans and
    * explodes ONCE.
    *
    * DENSE-overlap regime routing (kept, with a near-free detector):
    * when the benchmark's shingle union stops discriminating (q75's
    * low-vocabulary bigram fixture — most corpus postings pass the
    * bloom), the single-pass shape pays a probe per posting, the
    * winners join, and a survivor-relation dedup exchange for zero
    * pruning — measured +25 s over the plain exact sweep at sf1
    * (35.0 vs ~10 s, quiet host). The round-11 sample gate detected
    * this with an extra corpus-scan pass; now the detector is a
    * driver-side probe of a PREFIX sample through the
    * already-collected bloom (one CollectLimit of ~512 docs + a local
    * mini-job — no corpus scan, no extra distributed pass), routing
    * dense inputs to [[contaminationPairs]] whose doc-level dedup +
    * plain count never materializes a posting-level exchange. Both
    * regimes stay bit-equal to the exact sweep (spec-gated, dirty
    * inputs included).
    *
    * @param maxBenchShingles fail-fast bound on the collected
    *   benchmark shingle set. The verify join BROADCASTS the exact
    *   (bench_id, sh) relation — i.e. the design already requires it
    *   to fit every executor — so collecting it once on the driver is
    *   the same memory class, and it removes the bench side's
    *   job/stage train (a count job, a bloom-aggregation job, and two
    *   broadcast-build subtrees that each re-ran scan→explode→dedup).
    *   Past the bound, the right formulation is the distributed one —
    *   keep the relation as a DataFrame and shuffle-join the bloom
    *   survivors (ARCHITECTURE §2b(h)) — not a silently slower
    *   broadcast. */
  def contaminationPairsBloom(
      corpus: DataFrame, benchmark: DataFrame, n: Int, minIntersect: Int = 1,
      fpp: Double = 0.01,
      idCol: String = "doc_id", textCol: String = "text",
      maxBenchShingles: Int = 50000000): DataFrame = {
    val spark = corpus.sparkSession
    // benchmark side: full set-dedup protects bench_n/inter_n against
    // duplicated eval rows; ONE eager job collects the exact postings,
    // and the bloom is built driver-side (inserting already-distinct
    // longs — the aggregate-of-partial-blooms job did the same work
    // plus a job and stages of fixed scheduling/file-open latency;
    // round-16 stage probe: this sweep's wall was stage COUNT, at
    // ~2.6 MB total shuffled bytes)
    val bRelation = shingleHashes(benchmark, n, idCol, textCol)
      .select(col("id").as("bench_id"), col("sh"))
      .dropDuplicates("bench_id", "sh")
    val bSchema = bRelation.schema
    val bRows = bRelation.collect()
    require(bRows.length <= maxBenchShingles,
      s"contaminationPairsBloom: benchmark shingle set (${bRows.length}) " +
        s"exceeds maxBenchShingles=$maxBenchShingles — use the distributed " +
        "exact sweep (contaminationPairs), or raise the bound if the " +
        "driver and executors can hold the relation")
    val shIdx = bSchema.fieldIndex("sh")
    val bloom = org.apache.spark.util.sketch.BloomFilter
      .create(math.max(1L, bRows.length.toLong), fpp)
    bRows.foreach(r => bloom.putLong(r.getLong(shIdx)))
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bc.value.mightContainLong(h))
    // dense-regime router (see docstring): a ~512-doc PREFIX sample
    // probed through the bloom via a local mini-job — prefix bias is
    // fine for a corpus-level density estimate, and a wrong route only
    // costs wall time, never correctness (both branches are exact)
    val sampleSrc = corpus.select(col(idCol), col(textCol))
    val sampleRows = sampleSrc.limit(512).collect()
    if (sampleRows.nonEmpty) {
      val localSample = spark.createDataFrame(
        java.util.Arrays.asList(sampleRows: _*), sampleSrc.schema)
      val nSuspect = localSample
        .select(col(idCol).as("id"),
          explode(gramHashArray(col(textCol), n)).as("sh"))
        .filter(mightContain(col("sh")))
        .groupBy("id").agg(count(lit(1)).as("ns"))
        .filter(col("ns") >= minIntersect)
        .count()
      if (nSuspect > 0.5 * sampleRows.length) {
        log.warn(s"contaminationPairsBloom: $nSuspect of ${sampleRows.length} " +
          "sampled docs are bloom suspects (> 50%) — dense-overlap regime, " +
          "routing to the plain exact sweep (the probe would prune nothing)")
        bc.destroy()
        return contaminationPairs(corpus, benchmark, n, minIntersect, idCol, textCol)
      }
    }
    // re-localized: the verify join's broadcast build is a local-table
    // scan instead of a re-run of the whole bench lineage
    val b = spark.createDataFrame(
      java.util.Arrays.asList(bRows: _*), bSchema)
    val idIdx = bSchema.fieldIndex("bench_id")
    val bSizes = spark.createDataFrame(
      java.util.Arrays.asList(bRows.groupBy(_.get(idIdx))
        .map { case (k, rs) =>
          org.apache.spark.sql.Row(k, rs.length.toLong) }.toSeq: _*),
      org.apache.spark.sql.types.StructType(Seq(bSchema(idIdx),
        org.apache.spark.sql.types.StructField("bench_n",
          org.apache.spark.sql.types.LongType, nullable = false))))
    // dirty-input guard WITHOUT shuffling text (and without shuffling
    // BEFORE the explode: higher-order-function generators evaluate
    // interpreted, and a post-exchange explode lands on however few
    // partitions AQE coalesced the tiny doc relation to — measured
    // single-task at bench scale; scan-side it runs at full scan
    // parallelism). The kept row per id is the max-md5 version — the
    // [[contaminationPairs]] election, reproduced by joining postings
    // back to the per-id max version hash; identical duplicate rows
    // collapse in the (id, ver, sh) dedup, which touches only
    // bloom-surviving postings.
    val winners = corpus
      .select(col(idCol).as("corpus_id"), md5(col(textCol)).as("ver"))
      .groupBy("corpus_id").agg(max(col("ver")).as("ver"))
    val hits = corpus
      .select(col(idCol).as("corpus_id"), md5(col(textCol)).as("ver"),
        explode(gramHashArray(col(textCol), n)).as("sh"))
      .filter(mightContain(col("sh")))
      .join(winners, Seq("corpus_id", "ver"))
      .dropDuplicates("corpus_id", "ver", "sh")
      .join(broadcast(b), "sh")
    // hit rows are (corpus_id, bench_id, sh)-distinct by construction
    // (distinct postings × distinct bench set), so count == |∩|
    hits.groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("inter_n"))
      .filter(col("inter_n") >= minIntersect)
      .join(broadcast(bSizes), "bench_id")
      .select(col("corpus_id"), col("bench_id"), col("inter_n"), col("bench_n"))
  }

  /** Monitoring companion to `maxDocFrequency`: the (block, sh, df)
    * rows whose shingles `ngramJaccardPairs` would drop at this cap —
    * the same no-silent-truncation contract as `hotBuckets`. */
  def hotShingles(
      df: DataFrame, n: Int, maxDocFrequency: Int,
      idCol: String = "doc_id", textCol: String = "text",
      blockCol: Option[String] = None): DataFrame = {
    val keyed = blockCol match {
      case Some(bc) => shingleHashesWithBlock(df, n, idCol, textCol, bc)
      case None => shingleHashes(df, n, idCol, textCol).withColumn("block", lit(0))
    }
    keyed
      .groupBy("block", "sh").agg(count_distinct(col("id")).as("df"))
      .filter(col("df") > maxDocFrequency)
  }

  private def shingleHashesWithBlock(
      df: DataFrame, n: Int, idCol: String, textCol: String, blockCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(blockCol).as("block"),
      explode(gramHashArray(col(textCol), n)).as("sh"))

  // --------------------------------------------------------- MinHash/LSH

  /** MinHash signature over a hashed-shingle relation (id, sh: long):
    * numHashes permutations simulated as (a_i * h + b_i) mod p, min per
    * doc. Pure built-ins → whole-stage codegen, one shuffle (the groupBy). */
  def minhashSignatures(
      sh: DataFrame, numHashes: Int, seed: Long = 42L,
      withSetSize: Boolean = false): DataFrame = {
    // 2^31-1 keeps a*h < 2^62: no Long overflow under ANSI mode, and a
    // 2^31 hash space is ample for minhash rank comparisons.
    val p = 2147483647L // 2^31 - 1, Mersenne prime
    val rnd = new scala.util.Random(seed)
    val coefs = Seq.fill(numHashes)((math.abs(rnd.nextLong()) % (p - 1) + 1,
      math.abs(rnd.nextLong()) % p))
    val h = pmod(col("sh"), lit(p))
    val mins = coefs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(h * lit(a) + lit(b), lit(p))).as(s"mh_$i")
    }
    // withSetSize rides the shingle count (= exact-Jaccard set size)
    // on the SAME aggregation — consumers that need sizes skip a whole
    // second shuffle of the shingle relation. Appended last so the
    // positional mh_i layout (persisted by DedupStream's bucket store)
    // is untouched for existing readers.
    val aggs = if (withSetSize) mins :+ count(lit(1)).as("set_n") else mins
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: split the signature into `bands` rows of size
    * numHashes/bands; docs sharing any full band land in one bucket.
    * Candidate pairs come from bucket-local joins — the classic
    * sub-quadratic near-dup path.
    *
    * `hotBucketCap` guards the worst case: a bucket with B members
    * emits B² pairs, so one degenerate bucket (boilerplate text, empty
    * docs) can swamp a 100 TB sweep. Buckets above the cap are dropped
    * — their members are near-identical to *many* documents and any of
    * their pairs that matter will surface through the other bands. The
    * cap is not silent: `hotBuckets(signatures, …)` reports the dropped
    * buckets for operational monitoring. */
  /** The (id, band, bucket) LSH banding relation for a signature table
    * — shared by the batch pair generator and the incremental
    * streaming dedup (which persists it as its bucket index). */
  def bandBuckets(signatures: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash((b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh_$i")): _*)
          .as("bucket"))
    }
    signatures
      .select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
  }

  /** @param minBandCollisions candidate admission threshold: a pair
    *   must collide in at least this many bands. 1 (default) is the
    *   textbook OR-construction. 2 turns the per-pair dedup the
    *   pipeline pays anyway (the same groupBy that `distinct()` costs)
    *   into a second-vote gate: with r-row bands, P(≥2 collisions) =
    *   1−(1−J^r)^b − b·J^r(1−J^r)^(b−1), which at b=32/r=2 keeps
    *   0.999 of J=0.5 pairs (1.0 above 0.6) while background pairs —
    *   whose expected collision count is ≪1 — mostly collide once:
    *   measured 43.6M → 2.0M candidates on the sf1 rehearsal corpus
    *   for the identical verified output.
    * @param packFrom optional CHEAP relation with an `id` column of
    *   the same type bounding the id universe, used only to probe the
    *   span for the packed pair key. Pass the raw doc relation when
    *   `signatures` is an expensive not-yet-materialized computation —
    *   probing `signatures` itself would run that computation in a
    *   separate job and de-pipeline its persist from the pair join
    *   (the minhashDedupPairs path measured +4 s at sf1). */
  def lshCandidatePairs(
      signatures: DataFrame, numHashes: Int, bands: Int,
      hotBucketCap: Int = 100000,
      minBandCollisions: Int = 1,
      packFrom: Option[DataFrame] = None): DataFrame = {
    val banded = bandBuckets(signatures, numHashes, bands)
    // Bucket-local pair generation, capped BEFORE any pairing: the
    // count prefilter is a safe partial aggregation (O(1) buffer per
    // key however hot), and only cold (band, bucket) keys reach the
    // pair join, so a 10⁸-member degenerate bucket never pairs at all.
    // The filtered relation is persisted because both join sides read
    // it.
    val sizes = banded.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
    val coldKeys = sizes.filter(col("n").between(2, hotBucketCap))
      .select("band", "bucket")
    // Pair generation: sort-merge SELF-JOIN on the cold (band, bucket)
    // keys — the i<j combinations stream inside the join's codegen
    // inner loop, and an oversized key group spills instead of sitting
    // in a collect_list merge buffer (same rewrite as
    // ngramJaccardPairs, measured 2.7× there). Ids are unique per
    // bucket by construction (bandBuckets emits one key per doc per
    // band from the grouped signature relation), so no self-pair /
    // double-count guard beyond id1 < id2 is needed.
    val filtered = banded.join(coldKeys, Seq("band", "bucket"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = filtered.select(col("id").as("id1"), col("band"), col("bucket"))
    val b = filtered.select(col("id").as("id2"), col("band"), col("bucket"))
    val raw = a.join(b, Seq("band", "bucket")).filter(col("id1") < col("id2"))
      .select("id1", "id2")
    // the same pair can collide in several bands: below the threshold
    // that's a dedup (distinct); above it the identical shuffle doubles
    // as the collision-count vote. Both take the packed single-long
    // key fast path when the id span allows (see pairPackBase). The
    // span probe prefers the caller's cheap relation; otherwise the
    // doc-grain signature relation — never the exploded band relation,
    // which would de-pipeline `filtered`'s persist from the pair join.
    val pack = pairPackBase(packFrom.getOrElse(signatures))
    if (minBandCollisions <= 1) distinctPairs(raw, pack)
    else countPairs(raw, pack, "band_collisions")
      .filter(col("band_collisions") >= minBandCollisions)
      .select("id1", "id2")
  }

  /** Monitoring companion to the hot-bucket cap: the (band, bucket,
    * members) rows that `lshCandidatePairs` would drop at this cap. */
  def hotBuckets(signatures: DataFrame, numHashes: Int, bands: Int,
      hotBucketCap: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash((b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh_$i")): _*)
          .as("bucket"))
    }
    signatures
      .select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .groupBy(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .agg(count(lit(1)).as("members"))
      .filter(col("members") > hotBucketCap)
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    * candidates → estimator gate → exact Jaccard verification ≥ threshold.
    *
    * The estimator gate is the scale lever: banding alone can emit a
    * near-quadratic candidate set on a homogeneous corpus, and exact
    * verification joins shingle sets per pair. Estimating Jaccard from
    * the already-computed signatures (matching components / numHashes)
    * is pure column arithmetic per pair — candidates far below the
    * threshold die before any shingle join. The margin (2.5σ of the
    * 64-hash estimator) keeps recall; precision stays exact because
    * survivors are still verified. */
  def minhashDedupPairs(
      df: DataFrame, n: Int, numHashes: Int, bands: Int, minJaccard: Double,
      idCol: String = "doc_id", textCol: String = "text",
      minBandCollisions: Int = 1): DataFrame = {
    val sh = shingleHashes(df, n, idCol, textCol).cache()
    // Three consumers (banding + both sides of the estimator gate) would
    // re-run the 64-min aggregation three times; persist the one-pass
    // result instead. MEMORY_AND_DISK, not broadcast: one row per doc,
    // so at corpus scale it spills — never OOMs an executor/driver.
    // withSetSize folds the exact-verify set sizes into the same
    // aggregation — the sizes used to be a second full shuffle of the
    // shingle relation plus two pair-relation joins at the end.
    val sigs = minhashSignatures(sh, numHashes, withSetSize = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = lshCandidatePairs(sigs, numHashes, bands,
      minBandCollisions = minBandCollisions,
      packFrom = Some(df.select(col(idCol).as("id"))))

    // estimator gate: est(J) = matching signature components / numHashes.
    // The per-pair signature travels as ONE array column, and the match
    // count is a zip_with/aggregate fold — same arithmetic as the
    // historical 64-column × 64-when formulation, but the join schema
    // is 3 fields instead of 65 and the comparison is one codegen loop
    // instead of a 64-branch expression tree (which dominated the
    // per-call analysis+codegen cost of this pipeline).
    val compact = sigs.select(col("id"),
      array((0 until numHashes).map(i => col(s"mh_$i")): _*).as("sig"),
      col("set_n"))
    val s1 = compact.toDF("id1", "sig1", "n1")
    val s2 = compact.toDF("id2", "sig2", "n2")
    val estMatches = aggregate(
      zip_with(col("sig1"), col("sig2"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    val sigma = math.sqrt(minJaccard * (1 - minJaccard) / numHashes)
    val gate = math.max(0.0, minJaccard - 2.5 * sigma) * numHashes
    // The signature relation is one row per DOCUMENT — corpus-sized at
    // scale, so it must never be broadcast or forced resident. Plain
    // shuffle joins here; AQE downgrades to broadcast when a side is
    // measured to actually be small.
    val strong = cands.join(s1, "id1").join(s2, "id2")
      .withColumn("est_m", estMatches)
      .filter(col("est_m") >= gate)
      .select("id1", "id2", "n1", "n2")

    // exact verification only for gate survivors: join the surviving
    // pair relation straight into the hashed-shingle relation — the
    // join itself restricts sh to surviving docs, no materialized id
    // set and no per-doc broadcast. The set sizes ride along as two
    // grouping keys (functionally dependent on the ids), so nothing
    // joins the pair relation a second time.
    strong
      .join(sh.as("s1"), col("id1") === col("s1.id"))
      .join(sh.as("s2"), col("id2") === col("s2.id") && col("s1.sh") === col("s2.sh"))
      .groupBy("id1", "id2", "n1", "n2").agg(count(lit(1)).as("inter_n"))
      .withColumn("union_n", col("n1") + col("n2") - col("inter_n"))
      .filter(col("inter_n") >= col("union_n") * minJaccard)
      .select("id1", "id2", "inter_n", "union_n")
  }

  /** The complete scale dedup recipe in one call: MinHash+LSH pairs
    * (sub-quadratic candidates, estimator-gated, exactly verified)
    * contracted to CLUSTERS, every clustered doc labelled with its
    * cluster minimum — `component` is the representative to keep.
    * Output: (id, component), only for docs in some near-dup cluster
    * (everything else is its own implicit singleton). */
  def minhashClusters(
      df: DataFrame, n: Int, numHashes: Int, bands: Int, minJaccard: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    ConnectedComponents.connectedComponents(
      minhashDedupPairs(df, n, numHashes, bands, minJaccard, idCol, textCol),
      "id1", "id2")

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash over word hashes: per bit, sum ±1 across the doc's
    * words; fingerprint bit = sign. One pass through the custom
    * SimHashAgg aggregate (64-counter primitive buffer) — replaces the
    * 64-conditional-SUM formulation, which planned 64 accumulators and
    * 64 branches per row. */
  def simhash(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(col(idCol).as("id"),
        explode(array_distinct(split(col(textCol), " "))).as("word"))
      .withColumn("h", xxhash64(col("word")))
      .groupBy("id")
      .agg(graft.functions.SimHashAgg.simhashAgg(col("h")).as("simhash"))

  /** Cross-engine twin of [[simhash]] over DISTINCT word n-gram
    * shingles: features hashed with the same 257-polynomial Karp-Rabin
    * hash as [[TextAnalysis.fingerprint64]] (restateable in ANSI SQL
    * as a char-fold, unlike xxhash64), voted through the same one-pass
    * [[graft.functions.SimHashAgg]] buffer. Any engine that can fold
    * characters reproduces these fingerprints bit-for-bit, which is
    * what lets a simhash near-dup sweep carry a DuckDB oracle.
    *
    * `n` defaults to bigram shingles — the standard simhash feature
    * set (Manku et al., WWW'07 use shingles, not bag-of-words) and a
    * measured 3750× pair-density reduction on the low-vocabulary
    * testdata corpus: word-level features make near-identical
    * vocabularies (not near-identical DOCUMENTS) collide, so at
    * Hamming ≤ 3 the word variant marks 7.5% of ALL sf0.1 pairs as
    * near-dups (an inherently quadratic output) vs 0.002% for
    * bigrams. Docs shorter than `n` words emit no fingerprint, in
    * both engines. */
  def simhashPortable(
      df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 2): DataFrame = {
    require(n == 1 || n == 2, s"simhashPortable supports word unigrams/bigrams (got $n)")
    // word array BOUND once (optimization round 17): the bigram
    // zip_with referenced the split 3x per row (no CSE in interpreted
    // HOFs) — the fingerprint pass re-split the corpus three times
    val feats =
      if (n == 1) array_distinct(col("_ws"))
      else array_distinct(filter(
        zip_with(col("_ws"), slice(col("_ws"), lit(2), size(col("_ws"))),
          (a, b) => when(b.isNotNull, concat_ws(" ", a, b))),
        g => g.isNotNull))
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("_ws"))
      .select(col("id"), explode(feats).as("feat"))
      .withColumn("h", TextAnalysis.fingerprint(col("feat")))
      .groupBy("id")
      .agg(graft.functions.SimHashAgg.simhashAgg(col("h")).as("simhash"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, using the
    * 4×16-bit chunk pigeonhole: any pair within distance ≤ 3 shares at
    * least one exact 16-bit chunk → bucket-local pair generation per
    * chunk, then verify. Sub-quadratic like LSH banding, and guarded
    * the same way: a chunk bucket with B members emits B² candidate
    * pairs, so one degenerate corpus (thousands of identical
    * fingerprints) would put B² pairs through one bucket —
    * `hotChunkCap` is ENFORCED BY DEFAULT (100k; the module-wide
    * hot-bucket contract shared with [[embeddingNearDupPairs]] and
    * [[SimilaritySearch.semanticNearDupPairs]]). THIS IS A
    * RECALL-AFFECTING DROP: pairs wholly inside a dropped chunk bucket
    * are not emitted — pass `Int.MaxValue` for full recall on a
    * bounded corpus. The drop is not silent: `onDrop` (when non-null)
    * receives (buckets, members) dropped before the join runs, and
    * [[hotChunks]] reports the same buckets ad hoc. Pairs stream from
    * a sort-merge self-join on the cold chunk keys — spill-safe on
    * hot buckets below the cap. */
  def simhashPairs(fps: DataFrame, maxDist: Int = 3,
      hotChunkCap: Int = 100000,
      onDrop: (Long, Long) => Unit = null): DataFrame =
    simhashPairsWithRelease(fps, maxDist, hotChunkCap, onDrop)._1

  /** [[simhashPairs]] over the [[balancedBitBlocks]] partition: same
    * exact Hamming-≤-maxDist output, candidate volume sized by the
    * corpus's actual bit entropy instead of by bit adjacency. Costs one
    * extra bounded aggregate over the fingerprint relation — and ONLY
    * one (optimization round 18): the balance probe's collect also
    * carries the pair-pack base (min/max id) and the fingerprint
    * count, so the separate [[pairPackBase]] job disappears and the
    * hot-chunk drop accounting is skipped outright when the count
    * proves no bucket can exceed the cap (n ≤ cap ⇒ nothing to drop). */
  def simhashPairsBalanced(fps: DataFrame, maxDist: Int = 3,
      hotChunkCap: Int = 100000,
      onDrop: (Long, Long) => Unit = null): DataFrame = {
    val (blocks, pack, n) = balancedBlocksProbe(fps, maxDist + 1)
    simhashPairsWithRelease(fps, maxDist, hotChunkCap, onDrop, blocks, pack, Some(n))._1
  }

  /** [[simhashPairs]] plus an explicit RELEASE HANDLE for the bucketed
    * relation it persists — same contract as
    * [[PageRank.pageRankWithRelease]]: the returned plan consumes the
    * persisted relation lazily, so call the handle only AFTER the
    * result is consumed (or abandoned). Bench/Verify-style harnesses
    * can keep using `spark.catalog.clearCache()`. */
  def simhashPairsWithRelease(fps: DataFrame, maxDist: Int = 3,
      hotChunkCap: Int = 100000,
      onDrop: (Long, Long) => Unit = null,
      bitBlocks: Seq[Seq[Int]] = contiguousBitBlocks): (DataFrame, () => Unit) =
    simhashPairsWithRelease(fps, maxDist, hotChunkCap, onDrop, bitBlocks,
      pairPackBase(fps), None)

  /** [[simhashPairsWithRelease]] with the pair-pack base and the
    * fingerprint count PRE-PROBED (optimization round 18):
    * [[simhashPairsBalanced]] already paid one bounded collect over fps
    * for the bit balance — the same row carries min/max id and count, so
    * it skips the separate pairPackBase job (`pack` is by-name: the
    * public path probes it where the pair join needs it), and a count
    * ≤ hotChunkCap proves the drop-accounting pass has nothing to
    * account (no bucket can exceed the cap when the whole corpus
    * doesn't). */
  private def simhashPairsWithRelease(fps: DataFrame, maxDist: Int,
      hotChunkCap: Int, onDrop: (Long, Long) => Unit, bitBlocks: Seq[Seq[Int]],
      pack: => Option[(Long, org.apache.spark.sql.types.DataType)],
      knownFpCount: Option[Long]): (DataFrame, () => Unit) = {
    // pigeonhole soundness: k disjoint chunks covering all 64 bits
    // guarantee a shared chunk only for Hamming distance <= k-1 (the
    // default 4 cover maxDist <= 3). Larger distances need more
    // (narrower) chunks — reject rather than silently lose pairs.
    require(maxDist <= bitBlocks.size - 1,
      s"simhashPairs' ${bitBlocks.size}-chunk pigeonhole only guarantees " +
        s"recall for maxDist <= ${bitBlocks.size - 1} (got $maxDist)")
    require(bitBlocks.flatten.sorted == (0 until 64),
      "bitBlocks must partition bits 0-63 exactly once")
    // cap enforced BEFORE the list materializes (count prefilter +
    // aligned semi-join) — same OOM argument as lshCandidatePairs:
    // the collect_list merge buffer must never see a hot bucket.
    // keyed persists (released with buckets below): the drop-accounting
    // job, the sizes aggregate, and the semi-join probe side all read
    // one materialized explode instead of three fps re-scans
    val keyed = simhashChunkKeys(fps, bitBlocks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = keyed.groupBy("chunk", "key").agg(count(lit(1)).as("n"))
    // drop accounting from the SAME sizes relation the cold filter
    // reads (not a second simhashChunkKeys pass); skipped when the cap
    // cannot bite and no metrics hook is wired
    val capCannotBite = onDrop == null &&
      knownFpCount.exists(_ <= hotChunkCap)
    if ((hotChunkCap != Int.MaxValue || onDrop != null) && !capCannotBite) {
      val d = sizes.filter(col("n") > hotChunkCap)
        .agg(count(lit(1)), coalesce(sum(col("n")), lit(0L))).collect()(0)
      if (d.getLong(0) > 0)
        log.warn(s"simhashPairs: hotChunkCap=$hotChunkCap drops ${d.getLong(0)} " +
          s"chunk buckets / ${d.getLong(1)} members from the pair sweep " +
          "(recall-affecting; inspect hotChunks, raise the cap, or pass " +
          "Int.MaxValue for full recall)")
      if (onDrop != null) onDrop(d.getLong(0), d.getLong(1))
    }
    val coldKeys = sizes.filter(col("n").between(2, hotChunkCap))
      .select("chunk", "key")
    // pair generation: sort-merge self-join on the cold (chunk, key)
    // buckets — combinations stream in the join's codegen loop and
    // oversized groups spill (same rewrite as ngramJaccardPairs /
    // lshCandidatePairs, measured 2.7× there)
    val filtered = keyed.join(coldKeys, Seq("chunk", "key"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = filtered.select(col("id").as("id1"), col("chunk"), col("key"))
    val b = filtered.select(col("id").as("id2"), col("chunk"), col("key"))
    // the same pair can collide in several chunks — packed single-long
    // distinct when the id span allows (see pairPackBase). Span probed
    // on the doc-grain fingerprint relation, not the exploded chunk
    // keys, to keep `filtered`'s persist pipelined into the pair join.
    val cand = distinctPairs(
      a.join(b, Seq("chunk", "key")).filter(col("id1") < col("id2")),
      pack)
    val f1 = fps.select(col("id").as("id1"), col("simhash").as("fp1"))
    val f2 = fps.select(col("id").as("id2"), col("simhash").as("fp2"))
    val pairs = cand.join(f1, "id1").join(f2, "id2")
      .select(col("id1"), col("id2"),
        hammingDist(col("fp1"), col("fp2")).as("hamming"))
      .filter(col("hamming") <= maxDist)
    (pairs, () => {
      filtered.unpersist(blocking = false)
      keyed.unpersist(blocking = false)
      ()
    })
  }

  /** Monitoring companion to [[simhashPairs]]' hot-chunk cap: the
    * (chunk, key, members) buckets the sweep would drop at this cap —
    * at 100 TB, a fingerprint shared by B documents is boilerplate to
    * inspect, not B² pairs to enumerate. */
  def hotChunks(fps: DataFrame, hotChunkCap: Int): DataFrame =
    simhashChunkKeys(fps)
      .groupBy("chunk", "key").agg(count(lit(1)).as("members"))
      .filter(col("members") > hotChunkCap)

  /** The default contiguous 4×16-bit pigeonhole partition. */
  private[ops] val contiguousBitBlocks: Seq[Seq[Int]] =
    (0 until 4).map(c => (c * 16) until ((c + 1) * 16))

  /** Entropy-balanced pigeonhole partition: rank the 64 fingerprint
    * bits by how balanced their 0/1 split is across the corpus (one
    * bounded 64-sum aggregate, a single collected row) and deal them
    * round-robin into `nBlocks` blocks, so each block carries an equal
    * share of the corpus's discriminating bits.
    *
    * Why: the pigeonhole guarantee (Hamming ≤ nBlocks−1 ⇒ some shared
    * block) holds for ANY partition of the 64 bits, but candidate
    * volume does not. On a low-entropy corpus (shared boilerplate — the
    * common case for a web crawl) most bits are near-constant, and
    * contiguous chunks concentrate the few varying bits into one or two
    * blocks while the others collapse to a handful of giant buckets:
    * measured on word-level fingerprints of the sf0.01 documents table
    * (the extreme case), the hottest contiguous chunk bucket holds 492
    * of 500 docs (candidates ≈ all pairs) vs. 153 with balanced blocks
    * — 3× fewer candidates at sf0.1 for the identical exact result;
    * higher-entropy features (bigram shingles) narrow but don't erase
    * the gap. The partition is data-dependent but the
    * OUTPUT is not: blocking only decides which candidates get
    * verified, and every Hamming-≤-maxDist pair survives under any
    * partition. Deterministic: ties in balance break on bit index. */
  def balancedBitBlocks(fps: DataFrame, nBlocks: Int = 4): Seq[Seq[Int]] =
    balancedBlocksProbe(fps, nBlocks)._1

  /** [[balancedBitBlocks]] plus the pair-pack base ([[pairPackBase]])
    * and the fingerprint count, all from the SAME single-row collect
    * (optimization round 18): the balance aggregate already scans the
    * fingerprint relation — min/max id and count ride the same row
    * instead of costing the pack probe a second job per pair sweep. */
  private[ops] def balancedBlocksProbe(fps: DataFrame, nBlocks: Int)
      : (Seq[Seq[Int]], Option[(Long, org.apache.spark.sql.types.DataType)], Long) = {
    import org.apache.spark.sql.types._
    val idType = fps.schema("id").dataType
    val integral = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val ones = (0 until 64).map(b =>
      sum(shiftright(col("simhash"), b).bitwiseAND(lit(1L))).as(s"o$b"))
    val extra =
      if (integral) Seq(min(col("id").cast("long")).as("_mn"),
        max(col("id").cast("long")).as("_mx"))
      else Nil
    val row = fps.agg(count(lit(1)).as("n"), ones ++ extra: _*).collect()(0)
    val n = row.getLong(0)
    val ranked = (0 until 64).sortBy(b => (math.abs(n / 2.0 - row.getLong(b + 1)), b))
    val blocks = Array.fill(nBlocks)(Vector.newBuilder[Int])
    ranked.zipWithIndex.foreach { case (b, j) => blocks(j % nBlocks) += b }
    val pack =
      if (integral && !row.isNullAt(65) &&
          BigInt(row.getLong(66)) - BigInt(row.getLong(65)) < (BigInt(1) << 32))
        Some((row.getLong(65), idType))
      else None
    (blocks.toSeq.map(_.result()), pack, n)
  }

  /** The exploded (id, chunk, key) pigeonhole relation shared by the
    * pair generator and its monitor: chunk c's key packs the block's
    * bits in block order (for the contiguous default this is exactly
    * the historical `(simhash >> 16c) & 0xffff`). */
  private[graft] def simhashChunkKeys(
      fps: DataFrame, blocks: Seq[Seq[Int]] = contiguousBitBlocks): DataFrame = {
    val chunks = blocks.zipWithIndex.map { case (bits, c) =>
      val key = bits.zipWithIndex.map { case (b, j) =>
        shiftleft(shiftright(col("simhash"), b).bitwiseAND(lit(1L)), j)
      }.reduce(_ bitwiseOR _)
      struct(lit(c).as("chunk"), key.as("key"))
    }
    fps.select(col("id"), explode(array(chunks: _*)).as("ck"))
      .select(col("id"), col("ck.chunk"), col("ck.key"))
  }

  // ------------------------------------------- embedding cosine near-dup

  /** Cosine similarity between two float-vector columns, computed in
    * double with index-order summation (deterministic). Backed by the
    * codegen'd VectorDot/VectorSq expressions — same arithmetic order as
    * the HOF formulation, ~10× faster in the ANN hot loop. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosineFast(a, b)

  /** Embedding near-dup pairs above a cosine threshold, blocked by a
    * coarse LSH key (sign bits of seeded random projections) so the
    * pair join is bucket-local, not a cross join.
    *
    * `hotBucketCap` — ENFORCED BY DEFAULT (100k), the module-wide
    * hot-bucket contract shared with [[simhashPairs]] and
    * [[SimilaritySearch.semanticNearDupPairs]]: buckets past the cap
    * are excluded from the |bucket|² join, because at 100 TB an
    * embedding mode collapse (one point mass in the vector space)
    * would otherwise silently dominate the sweep with a B² cell join.
    * THIS IS A RECALL-AFFECTING DROP: pairs wholly inside a dropped
    * bucket are not emitted. A caller that needs full recall on a
    * bounded corpus passes `Int.MaxValue`. Dropping is observable, not
    * silent — `onDrop` (when non-null) receives (buckets, members)
    * dropped before the join runs (wire it to
    * [[graft.streaming.MetricsSink.dropHook]] for the metrics table),
    * and [[embeddingHotBuckets]] reports the same buckets ad hoc at
    * the same (planes, seed, cap). */
  /** Exact all-pairs near-dup within EXPLICIT blocks (a label/partition
    * column), for corpora whose blocking key is trusted metadata rather
    * than an LSH bucket. Quadratic in block size by design — pairs per
    * block ≤ n²/2 — so it is GUARDED: if any block exceeds
    * `maxBlockRows` the call fails fast (one cheap grouped count before
    * the join) with a message routing to [[embeddingNearDupPairs]] /
    * [[graft.ops.SimilaritySearch.semanticNearDupPairs]], instead of
    * silently launching a (corpus/blocks)² join that a 100 TB corpus
    * turns into the job that never finishes. */
  def labelBlockedNearDupPairs(
      emb: DataFrame, blockCol: String, minCosine: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBlockRows: Long = 100000L): DataFrame = {
    val oversize = emb.groupBy(col(blockCol)).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBlockRows)
      .orderBy(col("n").desc).limit(3).collect()
    require(oversize.isEmpty,
      s"labelBlockedNearDupPairs: block(s) ${oversize.map(r =>
          s"${r.get(0)}=${r.getLong(1)} rows").mkString(", ")} exceed " +
        s"maxBlockRows=$maxBlockRows — the within-block all-pairs join is " +
        "quadratic in block size. Use embeddingNearDupPairs (LSH-bucketed) " +
        "or SimilaritySearch.semanticNearDupPairs (cluster-blocked) for " +
        "unbounded blocks, or raise maxBlockRows deliberately.")
    val a = emb.select(col(idCol).as("id1"), col(vecCol).as("v1"), col(blockCol))
    val b = emb.select(col(idCol).as("id2"), col(vecCol).as("v2"), col(blockCol))
    a.join(b, Seq(blockCol))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cosine(col("v1"), col("v2")))
      .filter(col("cos") >= minCosine)
      .select(col("id1"), col("id2"), col("cos"))
  }

  def embeddingNearDupPairs(
      emb: DataFrame, dim: Int, minCosine: Double, planes: Int = 8, seed: Long = 7L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      hotBucketCap: Int = 100000,
      onDrop: (Long, Long) => Unit = null): DataFrame =
    embeddingNearDupPairsWithRelease(
      emb, dim, minCosine, planes, seed, idCol, vecCol, hotBucketCap, onDrop)._1

  /** [[embeddingNearDupPairs]] plus an explicit RELEASE HANDLE for the
    * bucketed relation it persists (same contract as
    * [[simhashPairsWithRelease]]: release only after the result is
    * consumed). The persist means the drop accounting — computed
    * whenever the cap can bite, feeding both the WARN log and `onDrop`
    * — and the x/y self-join all read one materialized key pass. */
  def embeddingNearDupPairsWithRelease(
      emb: DataFrame, dim: Int, minCosine: Double, planes: Int = 8, seed: Long = 7L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      hotBucketCap: Int = 100000,
      onDrop: (Long, Long) => Unit = null): (DataFrame, () => Unit) = {
    val keyed0 = emb.select(col(idCol).as("id"), col(vecCol).as("vec"),
      SimilaritySearch.hyperplaneKey(col(vecCol), dim, planes, seed).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = keyed0.groupBy("bucket").agg(count(lit(1)).as("members"))
    // an uncapped sweep with no metrics hook skips the accounting job
    if (hotBucketCap != Int.MaxValue || onDrop != null) {
      val d = sizes.filter(col("members") > hotBucketCap)
        .agg(count(lit(1)), coalesce(sum(col("members")), lit(0L))).collect()(0)
      if (d.getLong(0) > 0)
        log.warn(s"embeddingNearDupPairs: hotBucketCap=$hotBucketCap drops " +
          s"${d.getLong(0)} buckets / ${d.getLong(1)} members from the pair " +
          "sweep (recall-affecting; inspect embeddingHotBuckets, raise the " +
          "cap, or pass Int.MaxValue for full recall)")
      if (onDrop != null) onDrop(d.getLong(0), d.getLong(1))
    }
    val cold = sizes.filter(col("members") <= hotBucketCap).select("bucket")
    // ≤ 2^planes rows by construction — broadcast, no extra shuffle
    val keyed = keyed0.join(broadcast(cold), Seq("bucket"))
    val pairs = keyed.as("x").join(keyed.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"),
        cosine(col("x.vec"), col("y.vec")).as("cos"))
      .filter(col("cos") >= minCosine)
    (pairs, () => { keyed0.unpersist(blocking = false); () })
  }

  /** Cross-document n-gram NOVELTY: per document, how many of its
    * distinct n-gram shingles occur in NO earlier document (first
    * occurrence = corpus-wide min id). The data-selection twin of the
    * dedup sweeps — dedup asks "is this a copy?", novelty asks "how
    * much NEW content does this doc contribute?" — the per-doc signal
    * curriculum ordering and redundancy-pruned selection rank on.
    *
    * Scale shape: shingles travel as 8-byte xxhash64 keys (the
    * [[shingleHashes]] contract); the min-id election partial-
    * aggregates map-side, so a boilerplate shingle in millions of docs
    * lands as one row per map task. Per-doc totals come from TWO
    * doc-sized aggregations joined doc-to-doc — the corpus-sized
    * shingle relation is never joined back to itself (the election
    * relation collapses straight to (first_id, count)).
    *
    * Returns (idCol, n_shingles, n_novel); docs with no n-gram (fewer
    * than n words) emit no row. */
  def noveltyStats(
      df: DataFrame, n: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = shingleHashes(df, n, idCol, textCol)
    val totals = sh.groupBy(col("id")).agg(count(lit(1)).as("n_shingles"))
    val novel = sh.groupBy(col("sh")).agg(min(col("id")).as("_fid"))
      .groupBy(col("_fid")).agg(count(lit(1)).as("_novel"))
    totals.join(novel, col("id") === col("_fid"), "left")
      .select(col("id").as(idCol), col("n_shingles"),
        coalesce(col("_novel"), lit(0L)).as("n_novel"))
  }

  /** HEAD/BOILERPLATE dedup: group documents by the md5 of their first
    * `prefixWords` whitespace tokens and elect the lowest-id
    * representative — the crawl-pipeline step that collapses pages
    * sharing a templated head (same title block / nav boilerplate)
    * even when tails differ. Same shape as [[exactDedup]]: ONE hash
    * aggregation on a 16-byte key, no text comparison, no window.
    * Documents shorter than `prefixWords` key on their full text. */
  def prefixDedup(df: DataFrame, prefixWords: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(prefixWords > 0, "prefixWords must be positive")
    val key = md5(concat_ws(" ",
      slice(split(col(textCol), " "), 1, prefixWords)))
    // n_copies counts DISTINCT ids, so a duplicated doc ROW cannot
    // inflate it (the ngramJaccardPairs dirty-input contract, paid as
    // a per-group distinct buffer instead of a second shuffle). A
    // duplicated id whose copies DISAGREE on the prefix still lands in
    // both groups — that input violates the id-uniqueness contract and
    // is surfaced by exactDedup/deltaAudit, not silently merged here.
    df.groupBy(key.as("prefix_md5"))
      .agg(min(col(idCol)).as("rep_id"), count_distinct(col(idCol)).as("n_copies"))
  }

  /** Pairwise SOURCE-level n-gram overlap matrix — the corpus-mixing
    * diagnostic (which crawls/snapshots duplicate each other, where a
    * new source adds nothing): for every source pair, the number of
    * distinct word n-grams they share plus the union size (integer
    * Jaccard pieces, oracle-exact).
    *
    * Scale shape: the corpus collapses FIRST to the distinct
    * (source, shingle-hash) relation — bounded by |sources| × shingle
    * universe, not by document count. The pair join then emits
    * Σ c_sh² rows (c_sh = sources containing the shingle), which is
    * fine for rare shingles but quadratic on exactly the ubiquitous
    * ones that carry no mixing signal — a bigram present in all S
    * sources of a thousands-of-sources registry would emit S² rows
    * per such shingle. So shingles are ROUTED BY DENSITY, exactly:
    *   - cold (c_sh ≤ S/2): direct source-pair self-join, cost c²;
    *   - hot (c_sh > S/2): counted through their COMPLEMENT postings
    *     (the sources NOT containing the shingle, ≤ S − c rows) via
    *     inclusion–exclusion — inter_hot(s1,s2) = H − miss(s1) −
    *     miss(s2) + bothMissing(s1,s2), with H = #hot shingles.
    * Per-shingle cost is min(c, S−c)² — a shingle in EVERY source
    * costs ZERO join rows instead of S². No caps, no recall loss: the
    * output is bit-identical to the naive join (q88's DuckDB oracle
    * gates that), and [[sourceHotShingles]] reports what got routed.
    * The final assembly runs on the S²/2 source-pair grid — S is
    * hundreds-to-thousands by contract, never corpus-sized.
    *
    * COST GATE: the routed plan is ~10 extra stages (frequency tag,
    * complement anti-join, two bounded self-joins, grid assembly)
    * whose fixed scheduling overhead exceeds the direct join's entire
    * cost at small S — a ubiquitous shingle at S ≤ `routeMinSources`
    * emits at most 64² = 4096 join rows, which is noise, while the
    * routed plan's overhead measured ~5× the direct join at S = 20
    * (sf0.1). So the source count — ONE bounded count on the persisted
    * (src, shingle) relation the operator computes anyway, the
    * pairPackBase probe idiom — picks the formulation: direct at
    * S ≤ routeMinSources, density-routed above. Both produce
    * bit-identical output; the 1k-source rehearsal leg and the
    * randomized Round11OpsSpec property pin the routed path. */
  def sourceOverlap(df: DataFrame, n: Int = 2,
      srcCol: String = "source", textCol: String = "text",
      routeMinSources: Int = 64): DataFrame =
    sourceOverlapWithRelease(df, n, srcCol, textCol, routeMinSources)._1

  /** [[sourceOverlap]] plus a release handle, same contract as
    * [[simhashPairsWithRelease]]: the returned plan consumes the
    * persisted postings (and, on the routed path, the hot/complement
    * relations) — call the handle only after the matrix is
    * materialized, so repeated invocations (a bench loop, a long
    * multi-corpus run) don't accumulate MEMORY_AND_DISK blocks in the
    * executor block store. */
  def sourceOverlapWithRelease(df: DataFrame, n: Int = 2,
      srcCol: String = "source", textCol: String = "text",
      routeMinSources: Int = 64): (DataFrame, () => Unit) = {
    val sh = df
      .select(col(srcCol).as("src"), explode(gramHashArray(col(textCol), n)).as("sh"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy("src").agg(count(lit(1)).as("set_n"))
    val srcs = sh.select("src").distinct()
    if (srcs.count() <= routeMinSources) {
      // small-S regime: the quadratic term the routing removes is
      // bounded at routeMinSources² rows per shingle — run the plain
      // self-join and skip the routed plan's stage overhead entirely
      val inter = sh.select(col("src").as("s1"), col("sh"))
        .join(sh.select(col("src").as("s2"), col("sh")), Seq("sh"))
        .filter(col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("inter_n"))
      val out = inter
        .join(sizes.withColumnRenamed("src", "s1").withColumnRenamed("set_n", "n1"), "s1")
        .join(sizes.withColumnRenamed("src", "s2").withColumnRenamed("set_n", "n2"), "s2")
        .select(col("s1"), col("s2"), col("inter_n"),
          (col("n1") + col("n2") - col("inter_n")).as("union_n"))
      return (out, () => { sh.unpersist(); () })
    }
    val nSrc = srcs.agg(count(lit(1)).as("n_src"))
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("c")).crossJoin(nSrc)
    val tagged = sh.join(freq, "sh")
    val cold = tagged.filter(col("c") * 2 <= col("n_src")).select("src", "sh")
    val hot = tagged.filter(col("c") * 2 > col("n_src")).select("src", "sh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hotKeys = hot.select("sh").distinct()
    val coldInter = cold.select(col("src").as("s1"), col("sh"))
      .join(cold.select(col("src").as("s2"), col("sh")), Seq("sh"))
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("cold_n"))
    // complement postings: (src, sh) pairs where the HOT shingle is
    // ABSENT from the source — ≤ (S − c) rows per hot shingle, i.e.
    // small exactly when the direct join would be large
    val comp = hotKeys.crossJoin(broadcast(srcs))
      .join(hot, Seq("src", "sh"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hotCount = hotKeys.agg(count(lit(1)).as("h"))
    val miss = comp.groupBy("src").agg(count(lit(1)).as("miss"))
    val both = comp.select(col("src").as("s1"), col("sh"))
      .join(comp.select(col("src").as("s2"), col("sh")), Seq("sh"))
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("both_n"))
    val grid = srcs.select(col("src").as("s1"))
      .crossJoin(broadcast(srcs.select(col("src").as("s2"))))
      .filter(col("s1") < col("s2"))
    val inter = grid
      .join(coldInter, Seq("s1", "s2"), "left")
      .join(both, Seq("s1", "s2"), "left")
      .join(miss.select(col("src").as("s1"), col("miss").as("m1")), Seq("s1"), "left")
      .join(miss.select(col("src").as("s2"), col("miss").as("m2")), Seq("s2"), "left")
      .crossJoin(hotCount)
      .select(col("s1"), col("s2"),
        (coalesce(col("cold_n"), lit(0L)) + col("h")
          - coalesce(col("m1"), lit(0L)) - coalesce(col("m2"), lit(0L))
          + coalesce(col("both_n"), lit(0L))).as("inter_n"))
      .filter(col("inter_n") >= 1)
    val out = inter
      .join(sizes.withColumnRenamed("src", "s1").withColumnRenamed("set_n", "n1"), "s1")
      .join(sizes.withColumnRenamed("src", "s2").withColumnRenamed("set_n", "n2"), "s2")
      .select(col("s1"), col("s2"), col("inter_n"),
        (col("n1") + col("n2") - col("inter_n")).as("union_n"))
    (out, () => { sh.unpersist(); hot.unpersist(); comp.unpersist(); () })
  }

  /** Monitoring companion to [[sourceOverlap]]'s density routing: the
    * (sh, c) rows carried by the complement path at this corpus's
    * source count (c_sh > S/2). Nothing is dropped — this exists so
    * an operator run on a suspicious corpus can SEE which shingles
    * are ubiquitous boilerplate (nav bars, licence headers) rather
    * than mixing signal. */
  def sourceHotShingles(df: DataFrame, n: Int = 2,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    val sh = df
      .select(col(srcCol).as("src"), explode(gramHashArray(col(textCol), n)).as("sh"))
      .distinct()
    val nSrc = sh.select("src").distinct().agg(count(lit(1)).as("n_src"))
    sh.groupBy("sh").agg(count(lit(1)).as("c")).crossJoin(nSrc)
      .filter(col("c") * 2 > col("n_src"))
      .select("sh", "c")
  }

  /** EDIT-DISTANCE VERIFIED near-dup pairs: the [[simhashPortable]] →
    * [[simhashPairsBalanced]] candidate chain (exact Hamming ≤
    * `maxDist`, no lost pairs — q76's oracle-gated guarantee), each
    * surviving pair then verified at `levenshtein ≤ maxLev` on the raw
    * text. The standard two-tier fuzzy-dedup layout: a sketch prunes
    * the quadratic space, the expensive exact measure runs only on the
    * output-proportional candidate set.
    *
    * Scale shape: the candidate relation is output-proportional (never
    * all-pairs), so the corpus text NEVER shuffles: the candidate id
    * set broadcasts into a semi-join that prunes the text relation
    * map-side (same bounded-broadcast contract as the dedup caps —
    * 16 B/id; a candidate set too large to broadcast means the
    * upstream sketch caps failed first), and the two text joins then
    * run over the pruned candidate-sized relation. The O(len²)
    * Levenshtein kernel runs banded (Spark's 3-arg form bails out at
    * `maxLev`, so cost is O(len·maxLev) per candidate, zero for wildly
    * different lengths). */
  /** @param maxBroadcastIds bound on the candidate-id set that
    *   broadcasts into the text semi-join (~16 B/id → the default is
    *   ~80 MB, inside a sane `autoBroadcastJoinThreshold` headroom).
    *   Enforced with a limit-count BEFORE the broadcast (the
    *   requireBoundedQueries pattern) so a runaway candidate set —
    *   which means the upstream sketch caps failed first — dies with
    *   a diagnosis instead of a driver OOM. */
  def levVerifiedPairs(df: DataFrame, maxDist: Int = 3, maxLev: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      maxBroadcastIds: Long = 5000000L): DataFrame = {
    require(maxLev >= 0, "maxLev must be non-negative")
    // persisted: the fingerprint relation backs FIVE consumers inside
    // the balanced pigeonhole (balance probe, chunk keys, pack probe,
    // both hamming join sides) — unpersisted it recomputes the
    // char-fold fingerprint chain for each (module cache contract,
    // released by the harness's clearCache like the other pair ops)
    val fps = simhashPortable(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = simhashPairsBalanced(fps, maxDist)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ids = pairs
      .select(explode(array(col("id1"), col("id2"))).as(idCol)).distinct()
    // the broadcast bound, ENFORCED (not just documented): a candidate
    // set past maxBroadcastIds means the simhash chunk caps upstream
    // failed to prune — fail loudly with that diagnosis before the
    // broadcast build can OOM the driver. limit-count scans at most
    // maxBroadcastIds+1 rows of the (persisted-pairs-derived) id set.
    require(ids.limit(math.min(maxBroadcastIds + 1, Int.MaxValue).toInt).count() <= maxBroadcastIds,
      s"levVerifiedPairs: candidate-id set exceeds maxBroadcastIds=$maxBroadcastIds " +
        "(the text-pruning semi-join broadcasts ids by design). A candidate set " +
        "this large means the upstream sketch caps (simhashPairs hotChunkCap) " +
        "failed to prune — inspect Dedup.hotChunks / lower maxDist, or raise " +
        "maxBroadcastIds deliberately with broadcast headroom to match")
    // persisted: t1 and t2 would otherwise each re-scan the corpus and
    // re-run the semi-join (module cache contract, like the pair ops)
    val texts = df
      .join(broadcast(ids), Seq(idCol), "left_semi")
      .select(col(idCol), col(textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t1 = texts.select(col(idCol).as("id1"), col(textCol).as("_t1"))
    val t2 = texts.select(col(idCol).as("id2"), col(textCol).as("_t2"))
    pairs.join(t1, "id1").join(t2, "id2")
      .withColumn("lev", levenshtein(col("_t1"), col("_t2"), maxLev))
      .filter(col("lev") >= 0 && col("lev") <= maxLev)
      .select(col("id1"), col("id2"),
        col("hamming").cast("long").as("hamming"), col("lev").cast("long").as("lev"))
  }

  /** Monitoring companion to [[embeddingNearDupPairs]]' cap: the
    * (bucket, members) rows it excludes at this cap. */
  def embeddingHotBuckets(
      emb: DataFrame, dim: Int, planes: Int = 8, seed: Long = 7L,
      vecCol: String = "embedding", hotBucketCap: Int): DataFrame =
    emb.select(
        SimilaritySearch.hyperplaneKey(col(vecCol), dim, planes, seed).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("members"))
      .filter(col("members") > hotBucketCap)
}

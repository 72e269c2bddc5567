package graft.streaming

import graft.ops.Dedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Incremental near-dup detection on ingest — the streaming form of the
  * MinHash-LSH sweep. A batch pipeline re-scans the whole corpus per
  * dedup run; an INCREMENTAL corpus build must answer "is this new
  * document a near-dup of anything already ingested?" per micro-batch,
  * touching state proportional to the batch, not the corpus.
  *
  * Per micro-batch of documents:
  *   1. shingle → MinHash signatures (same hash family as the batch
  *      operator, so incremental and batch sweeps agree);
  *   2. LSH band buckets of the NEW docs join the persisted bucket
  *      index on (band, bucket) — candidates are new×new and new×old,
  *      never old×old (no re-pairing of history);
  *   3. candidates verify against the signature store with the
  *      standard MinHash estimate (fraction of agreeing components
  *      ≥ `minAgree` ≈ Jaccard threshold) — exact shingle sets are
  *      NOT retained, signatures are the state;
  *   4. verified pairs append to `pairsDir`; the batch's buckets and
  *      signatures append to the store.
  *
  * Store layout — O(batch) reads, not O(corpus): each commit is
  * `batch=<id>/pb=<k>` where `pb = hash(band,bucket) mod storeParts`
  * for buckets (`ps = id mod storeParts` for signatures, `ph` for span
  * hashes). A tick first computes its OWN key-partition set (≤
  * storeParts ints, collected to the driver), then lists and reads
  * ONLY the store subdirectories those keys hash into — history keys
  * outside the batch's partitions are never opened. Signature reads
  * prune further: only the partitions holding a CANDIDATE pair id are
  * read, so a tick with no bucket collisions reads no history
  * signatures at all. At 10⁹ docs and 64 hashes / 16 bands the state
  * is ~640 GB, but a tick touching b bucket partitions reads ~b/
  * storeParts of it; size storeParts so one partition ≈ one executor's
  * comfortable scan. Per-batch writes create ≤ storeParts files per
  * commit; [[compact]] folds accumulated commits back to O(storeParts)
  * files offline, with a manifest-gated atomic cutover (readers never
  * see sources and compacted data simultaneously).
  *
  * Replay safety: every store commit is keyed by the micro-batch id
  * (`batch=<id>` dir, overwrite mode), so re-processing a batch
  * rewrites its own directories instead of appending duplicate
  * signature rows — duplicates would multiplicatively re-emit every
  * future pair touching those ids. Pair emission is idempotent the
  * same way (same contract as the reference's idempotent ingest).
  *
  * reference analog: none — the reference re-queries Postgres per tick;
  * this is the training-data extension of its observe-loop shape
  * (backend/bin/deal-observer-backend.js:43-74).
  */
object DedupStream {
  import StoreCommits.{NoKeyFamily, ensureStoreMeta, publishCommit, readStore, readStoreFrom}

  final case class Config(
      n: Int = 2,
      numHashes: Int = 64,
      bands: Int = 16,
      minAgree: Double = 0.5,
      seed: Long = 42L,
      storeParts: Int = 64)

  private def sigSchema(cfg: Config): StructType =
    StructType(StructField("id", LongType, nullable = false) +:
      (0 until cfg.numHashes).map(i => StructField(s"mh_$i", LongType, nullable = true)))

  private val bucketSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("band", IntegerTypeAlias, nullable = false),
    StructField("bucket", IntegerTypeAlias, nullable = false)))

  private def IntegerTypeAlias = org.apache.spark.sql.types.IntegerType

  /** The `_PARTS` key family of the MinHash sketch, span and substring
    * stores: word-chained xxhash64 grams ([[Dedup.shingleHashes]]). A
    * store of another family fails every step loudly
    * ([[StoreCommits.ensureStoreMeta]]). */
  private val KeyFamily = 2

  /** Fold the accumulated per-batch commits of every sub-store into ONE
    * commit each — the offline maintenance pass for a long-running
    * store (each tick writes ≤ storeParts files per sub-store, so a
    * month of 10 s ticks is ~10⁵ commits of small files; compaction
    * restores O(storeParts) files without changing any answer).
    *
    * One [[StoreCommits.foldAndSwap]] per sub-store, crash-safe at
    * EVERY point including the first compaction of a manifest-less
    * store: the commit set is adopted into a manifest before anything
    * is written, and one atomic manifest swap replaces the sources with
    * the compacted commit. A sub-store is claimed only when it folds
    * (two or more commits), so a never-compacted one keeps publishing
    * without a manifest rewrite. Replaced generations age out on the
    * shared grace ledger; at grace 0 they are deleted at once. Batch-mode
    * callers CAN read these sub-stores concurrently with an offline
    * compact — the grace is what keeps a straddling reader's files.
    * SINGLE-WRITER contract, same as the stream itself: run between
    * ticks (or from the stream's own driver), never concurrently with a
    * step on the same store. */
  def compact(spark: SparkSession, storeDir: String,
      gcGraceMs: Long = StoreCommits.defaultGcGraceMs): Unit = {
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // NOTE: the vector stores' sub-stores are NOT in this list — their
    // commits may be L0 single files (no ab= subdirs), and their
    // compactStore re-derives the partition column from row content
    Seq("buckets" -> "pb", "sigs" -> "ps", "spans" -> "ph", "wins" -> "pw",
        "chunks" -> "pc", "fps" -> "ps", "hashes" -> "ph").foreach { case (sub, partCol) =>
      StoreCommits.foldAndSwap(spark, storeDir, Seq((sub, partCol, Nil)), { case Seq(visible) =>
        // skip empty commits (no parquet data → no hash subdirs);
        // mixing them into partition discovery would conflict
        lazy val data = visible.filter(s => fs.listStatus(s.getPath)
          .exists(c => c.isDirectory && c.getPath.getName.startsWith(s"$partCol=")))
        if (visible.size < 2 || data.isEmpty) None
        // partition discovery (anchored at the sub-store root so
        // multiple commit dirs don't conflict) restores the hash column
        else Some((Seq(spark.read.option("basePath", s"$storeDir/$sub")
            .parquet(data.map(_.getPath.toString): _*).drop("batch")),
          s"batch=compact-${java.util.UUID.randomUUID()}", None))
      }, gcGraceMs = gcGraceMs, claimFirst = false, stampReplaced = false)
    }
  }

  /** One micro-batch step, exposed for batch-mode reuse and tests:
    * emits verified (id1, id2, est) pairs for `batch` against (and
    * within) the store at `storeDir`, then folds the batch in.
    *
    * `batchTag` names the store sub-directory this batch commits to
    * (`buckets/batch=<tag>`, `sigs/batch=<tag>`), written with
    * OVERWRITE: a foreachBatch replay of the same micro-batch id
    * rewrites the same directories instead of appending duplicate
    * rows — duplicated signatures would multiplicatively re-emit every
    * future pair touching those ids, so the store write must be
    * idempotent, not merely append-safe. */
  def step(batch: DataFrame, storeDir: String, cfg: Config = Config(),
      batchTag: String = java.util.UUID.randomUUID().toString): DataFrame = {
    val spark = batch.sparkSession
    ensureStoreMeta(spark, storeDir, cfg.storeParts, KeyFamily)
    val parts = lit(cfg.storeParts.toLong)
    val sigs = Dedup.minhashSignatures(
      Dedup.shingleHashes(batch, cfg.n),
      cfg.numHashes, cfg.seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newBuckets = Dedup.bandBuckets(sigs, cfg.numHashes, cfg.bands)
      .withColumn("pb", pmod(xxhash64(col("band"), col("bucket")), parts).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // the batch's own key partitions (≤ storeParts ints) bound the
    // history read — this collect is what makes the tick O(batch)
    val batchPb = newBuckets.select("pb").distinct().collect().map(_.getInt(0)).toSet
    val oldBuckets = readStore(
      spark, s"$storeDir/buckets", bucketSchema, batchTag, "pb", batchPb)

    // bucket-KEY prefilter on the history side: partition pruning is
    // coarse (a few thousand batch keys touch all `storeParts`
    // partitions), so without it every tick SHUFFLES the whole
    // accumulated bucket store into the candidate join. Only history
    // rows sharing an exact (band, bucket) with the batch can ever
    // produce a candidate — a broadcast semi-join keeps the join input
    // O(matching history), which for fresh content is ~0 however large
    // the store grows. Guarded: a huge batch (batch-mode reuse) skips
    // the broadcast rather than materializing an oversized key set.
    val batchKeys = newBuckets.select("band", "bucket").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val oldPruned =
      if (batchKeys.count() <= 1000000)
        oldBuckets.join(broadcast(batchKeys), Seq("band", "bucket"), "left_semi")
      else oldBuckets

    // candidates: every bucket-mate of a NEW doc (new×new once via the
    // id order; new×old in either id order), history never self-pairs
    val allBuckets = newBuckets.select("id", "band", "bucket").unionByName(oldPruned)
    val cand = newBuckets.select(col("band"), col("bucket"), col("id").as("nid"))
      .join(allBuckets.select(col("band"), col("bucket"), col("id").as("oid")),
        Seq("band", "bucket"))
      .filter(col("nid") =!= col("oid"))
      .select(least(col("nid"), col("oid")).as("id1"),
        greatest(col("nid"), col("oid")).as("id2"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // signature reads prune to the partitions holding a candidate id:
    // no bucket collision → no history signature opened at all
    val candPs = cand.select(explode(array(
        pmod(col("id1"), parts).cast("int"),
        pmod(col("id2"), parts).cast("int"))).as("ps"))
      .distinct().collect().map(_.getInt(0)).toSet
    val oldSigs = readStore(
      spark, s"$storeDir/sigs", sigSchema(cfg), batchTag, "ps", candPs)

    // signature-estimate verify: agreeing components / numHashes is the
    // standard unbiased MinHash estimate of Jaccard. History drops ids
    // the batch itself carries: after a rollback-behind-compaction
    // replay, the batch's docs also live inside the compacted commit
    // (tag exclusion cannot reach inside it), and a doc present twice
    // in the join's signature side would duplicate every pair row it
    // touches. Signatures are deterministic, so new-wins is exact.
    val allSigs = sigs.unionByName(
      oldSigs.join(sigs.select("id"), Seq("id"), "left_anti"))
    val s1 = allSigs.toDF(allSigs.columns.map(c => if (c == "id") "id1" else s"a_$c"): _*)
    val s2 = allSigs.toDF(allSigs.columns.map(c => if (c == "id") "id2" else s"b_$c"): _*)
    val agree = (0 until cfg.numHashes)
      .map(i => when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    val pairs = cand.join(s1, "id1").join(s2, "id2")
      .withColumn("est", agree.cast("double") / cfg.numHashes)
      .filter(col("est") >= cfg.minAgree)
      .select(col("id1"), col("id2"), col("est"))

    // emit BEFORE folding the batch into the store (pairs computed from
    // in-memory relations; the store append is the batch's commit point)
    val out = pairs.cache()
    out.count()
    newBuckets.repartition(col("pb")).write.partitionBy("pb")
      .mode("overwrite").parquet(s"$storeDir/buckets/batch=$batchTag")
    sigs.withColumn("ps", pmod(col("id"), parts).cast("int"))
      .repartition(col("ps")).write.partitionBy("ps")
      .mode("overwrite").parquet(s"$storeDir/sigs/batch=$batchTag")
    // post-compaction stores gate visibility through the manifest;
    // publishing is idempotent under foreachBatch replay
    publishCommit(spark,
      new Path(s"$storeDir/buckets"), s"batch=$batchTag")
    publishCommit(spark,
      new Path(s"$storeDir/sigs"), s"batch=$batchTag")
    newBuckets.unpersist()
    batchKeys.unpersist()
    sigs.unpersist()
    cand.unpersist()
    out
  }

  private val fpSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("simhash", LongType, nullable = false)))

  private val chunkKeySchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("chunk", IntegerTypeAlias, nullable = false),
    StructField("key", LongType, nullable = false)))

  /** Marker for the portable-bigram simhash key family — a simhash
    * store and a minhash store must never be confused for one another
    * even at matching partition counts. */
  private val SimhashKeyFamily = 3

  /** Marker for the whole-document md5 content-hash family. */
  private val ExactKeyFamily = 4

  private val exactHashSchema: StructType = StructType(Seq(
    StructField("h", org.apache.spark.sql.types.StringType, nullable = false),
    StructField("keeper", LongType, nullable = false)))

  /** Incremental WHOLE-DOCUMENT exact dedup (the streaming form of
    * [[graft.ops.Dedup.exactDedup]], and the most common production
    * dedup-on-ingest): per micro-batch, each document's md5 content
    * hash checks against the accumulated first-occurrence store; emits
    * one row per DUPLICATE batch document — (id, keeper_id), keeper =
    * the store's first claimant, or the batch's min id for content
    * first seen in this batch. Newly-claimed hashes fold into the
    * store. The cheapest state per distinct CONTENT in the module: one
    * (h, keeper) row, nothing per duplicate.
    *
    * Same arrival-order semantics shift vs the batch operator as
    * [[spanStep]] (first batch wins; min id within a batch — a late
    * re-crawl dedups against the existing corpus), the same
    * `hashes/batch=<tag>/ph=<k>` pruned-read store layout, the same
    * batch-tag overwrite commits (idempotent under foreachBatch
    * replay), and its own key-family marker so a span or simhash
    * store can never be misread as a content-hash store. */
  def exactStep(
      batch: DataFrame, storeDir: String,
      batchTag: String = java.util.UUID.randomUUID().toString,
      storeParts: Int = 64): DataFrame = {
    val spark = batch.sparkSession
    ensureStoreMeta(spark, storeDir, storeParts, family = ExactKeyFamily)
    val parts = lit(storeParts.toLong)
    val hs = batch.select(col("doc_id").as("id"), md5(col("text")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchPh = hs
      .select(pmod(xxhash64(col("h")), parts).cast("int").as("ph"))
      .distinct().collect().map(_.getInt(0)).toSet
    // history drops rows THIS batch's docs claimed (replay-behind-
    // compaction new-wins, same rule and comment as spanStep)
    val old = readStore(
        spark, s"$storeDir/hashes", exactHashSchema, batchTag, "ph", batchPh)
      .join(hs.select(col("id").as("keeper")).distinct(), Seq("keeper"), "left_anti")
    val withOld = hs.groupBy("h").agg(min(col("id")).as("bkeeper"))
      .join(old.withColumnRenamed("keeper", "okeeper"), Seq("h"), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keepers = withOld.select(col("h"),
      coalesce(col("okeeper"), col("bkeeper")).as("keeper"))
    val out = hs.join(keepers, Seq("h"))
      .filter(col("id") =!= col("keeper"))
      .select(col("id"), col("keeper").as("keeper_id"))
      .cache()
    out.count()
    withOld.filter(col("okeeper").isNull)
      .select(col("h"), col("bkeeper").as("keeper"))
      .withColumn("ph", pmod(xxhash64(col("h")), parts).cast("int"))
      .repartition(col("ph")).write.partitionBy("ph")
      .mode("overwrite").parquet(s"$storeDir/hashes/batch=$batchTag")
    publishCommit(spark,
      new Path(s"$storeDir/hashes"), s"batch=$batchTag")
    hs.unpersist()
    withOld.unpersist()
    out
  }

  /** Incremental SimHash near-dup (streaming form of
    * [[graft.ops.Dedup.simhashPairs]] over
    * [[graft.ops.Dedup.simhashPortable]] fingerprints): per
    * micro-batch, fingerprint the new docs, pigeonhole-key them, join
    * the persisted chunk-key index on (chunk, key) — candidates are
    * new×new and new×old, never old×old — and verify candidates at
    * Hamming ≤ `maxDist` against the fingerprint store. State is ONE
    * long per doc plus four chunk keys — the cheapest per-doc dedup
    * state in the module (vs 64 longs for MinHash signatures).
    *
    * The pigeonhole partition is the FIXED contiguous 4×16 layout, not
    * [[graft.ops.Dedup.balancedBitBlocks]]: balanced blocks are a
    * corpus statistic, and an incremental store's key layout must be
    * frozen at store creation or history keys stop matching new ones.
    * (A rebalancing compaction could migrate the layout offline; the
    * `_PARTS` family marker is where such a version bump would land.)
    *
    * Store layout, pruning, replay idempotence, and compaction follow
    * [[step]] exactly: `chunks/batch=<tag>/pc=<k>` (k = hash(chunk,
    * key) mod storeParts) and `fps/batch=<tag>/ps=<id mod
    * storeParts>`; a tick reads only the store partitions its own
    * keys hash into, and fingerprint reads prune to candidate ids. */
  def simhashStep(
      batch: DataFrame, storeDir: String,
      maxDist: Int = 3, storeParts: Int = 64,
      batchTag: String = java.util.UUID.randomUUID().toString): DataFrame = {
    val spark = batch.sparkSession
    ensureStoreMeta(spark, storeDir, storeParts, family = SimhashKeyFamily)
    val parts = lit(storeParts.toLong)
    val fps = Dedup.simhashPortable(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newKeys = Dedup.simhashChunkKeys(fps)
      .withColumn("pc", pmod(xxhash64(col("chunk"), col("key")), parts).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val batchPc = newKeys.select("pc").distinct().collect().map(_.getInt(0)).toSet
    val oldKeys = readStore(
      spark, s"$storeDir/chunks", chunkKeySchema, batchTag, "pc", batchPc)
    // exact-key prefilter on the history side, same argument as step's:
    // partition pruning is coarse; only history rows sharing an exact
    // (chunk, key) can pair with the batch
    val batchCk = newKeys.select("chunk", "key").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val oldPruned =
      if (batchCk.count() <= 1000000)
        oldKeys.join(broadcast(batchCk), Seq("chunk", "key"), "left_semi")
      else oldKeys

    val all = newKeys.select("id", "chunk", "key").unionByName(oldPruned)
    val cand = newKeys.select(col("chunk"), col("key"), col("id").as("nid"))
      .join(all.select(col("chunk"), col("key"), col("id").as("oid")),
        Seq("chunk", "key"))
      .filter(col("nid") =!= col("oid"))
      .select(least(col("nid"), col("oid")).as("id1"),
        greatest(col("nid"), col("oid")).as("id2"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val candPs = cand.select(explode(array(
        pmod(col("id1"), parts).cast("int"),
        pmod(col("id2"), parts).cast("int"))).as("ps"))
      .distinct().collect().map(_.getInt(0)).toSet
    val oldFps = readStore(
      spark, s"$storeDir/fps", fpSchema, batchTag, "ps", candPs)
    // new-wins on replay-behind-compaction, same as step's signatures
    val allFps = fps.unionByName(
      oldFps.join(fps.select("id"), Seq("id"), "left_anti"))
    val pairs = cand
      .join(allFps.toDF("id1", "fp1"), "id1")
      .join(allFps.toDF("id2", "fp2"), "id2")
      .select(col("id1"), col("id2"),
        Dedup.hammingDist(col("fp1"), col("fp2")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)

    val out = pairs.cache()
    out.count()
    newKeys.repartition(col("pc")).write.partitionBy("pc")
      .mode("overwrite").parquet(s"$storeDir/chunks/batch=$batchTag")
    fps.withColumn("ps", pmod(col("id"), parts).cast("int"))
      .repartition(col("ps")).write.partitionBy("ps")
      .mode("overwrite").parquet(s"$storeDir/fps/batch=$batchTag")
    publishCommit(spark,
      new Path(s"$storeDir/chunks"), s"batch=$batchTag")
    publishCommit(spark,
      new Path(s"$storeDir/fps"), s"batch=$batchTag")
    newKeys.unpersist()
    batchCk.unpersist()
    fps.unpersist()
    cand.unpersist()
    out
  }

  // ------------------------------------------------ cluster maintenance

  private val labelSchema = StructType(Seq(
    StructField("id", LongType), StructField("component", LongType)))

  /** Streaming near-dup CLUSTER MAINTENANCE: the per-tick composition
    * of [[simhashStep]] (candidate pairs of the batch against itself
    * and history, exact Hamming ≤ `maxDist`) with a DELTA fold into
    * the durable label store ([[foldLabels]]). The store's latest
    * view ([[latestLabels]]) labels every doc ever ingested by its
    * component's minimum doc id, exactly as the batch operator would
    * label the union of every pair ever seen — the q95 equivalence,
    * made durable — but each tick WRITES only O(|batch| +
    * merge-affected members), never the corpus. */
  def clusterStep(
      batch: DataFrame, storeDir: String,
      maxDist: Int = 3, storeParts: Int = 64,
      batchTag: String = java.util.UUID.randomUUID().toString): DataFrame = {
    val pairs = simhashStep(batch, storeDir, maxDist, storeParts, batchTag)
    val out = foldLabels(
      batch.select(col("doc_id").cast("long").as("id")),
      pairs, storeDir, batchTag, storeParts)
    pairs.unpersist()
    out
  }

  /** DELTA fold of one batch (ids + candidate pairs) into the durable
    * label store under `storeDir/labels` — the batch-proportional form
    * of incremental connected components. Returns the store's full
    * latest labelling as a LAZY view ([[latestLabels]]); a tick loop
    * that never forces it pays only the delta.
    *
    * Store layout: two sub-stores of identical (id, component) rows,
    *   - `labels/byId/batch=<tag>/li=<k>`,  li = hash(id) mod parts —
    *     answers "current label of these ids" with partition pruning;
    *   - `labels/byComp/batch=<tag>/lc=<k>`, lc = hash(component) mod
    *     parts — answers "members of these components" with pruning,
    *     so a merge relabels only the merged roots' partitions.
    * Both are APPEND-ONLY commit sets under the same `_MANIFEST`/
    * `_FOLDED` visibility rules as every other sub-store. The trick
    * that makes unordered delta commits a consistent versioned
    * relation: component labels are MONOTONE NON-INCREASING (clusters
    * only merge, and the label is the min member id), so
    * latest-wins ≡ `min(component)` per id — no commit ordering, no
    * snapshot chain, and replay idempotence for free (re-folding the
    * same pairs can only re-derive the same minima, even when the
    * replayed commit was already compacted into history and tag
    * exclusion cannot reach it).
    *
    * Per-tick cost, the scale contract:
    *   - READ: byId partitions of the PAIR ENDPOINTS only (a batch doc
    *     with no candidate pair needs no lookup — its blind (id, id)
    *     row is inert under min-wins if the id was seen before, since
    *     any prior label ≤ id), plus byComp partitions of the roots
    *     that actually merge. Both are merge-activity-proportional; a
    *     tick of fresh content reads nothing.
    *   - CONTRACT: [[graft.ops.ConnectedComponents.updateComponents]]
    *     over the endpoints' prior labels ∪ the batch pairs — a
    *     touched-subgraph-sized problem, usually solved by the driver
    *     union-find fast path.
    *   - WRITE: the contracted labels, relabelled members of merged
    *     roots, and the batch's singleton rows — O(|batch| + affected
    *     members). byComp receives only the merge-affected rows
    *     (singletons are self-labelled; a never-paired id is always
    *     covered by the contraction the first time a pair touches it).
    * Nothing is ever O(|labels|) on the tick path; the full-corpus
    * materialization happens only when a READER forces
    * [[latestLabels]] or when [[compactLabels]] runs (offline,
    * amortized).
    *
    * CRASH CONTRACT: byId and byComp are committed by two separate
    * publishes (byId first). Under checkpointed replay this is
    * invisible (the tag re-folds idempotently), but a restart that
    * ABANDONS the checkpoint after a crash between the two publishes
    * must run [[compactLabels]] first — it detects byId-vs-byComp
    * commit divergence and rebuilds byComp from byId's resolved
    * labelling.
    *
    * @param localFoldThreshold max collected pair rows for the DRIVER
    *   contraction fast path (default = the 2^19 bound
    *   [[graft.ops.ConnectedComponents]] uses, CcProfile-justified);
    *   a larger pair batch falls back to the distributed contraction.
    *   Exposed so specs can force either path (set 0 for distributed,
    *   Int.MaxValue for local) — both must produce identical stores. */
  def foldLabels(
      batchIds: DataFrame, pairs: DataFrame,
      storeDir: String, batchTag: String,
      storeParts: Int = 64,
      localFoldThreshold: Int = 1 << 19): DataFrame = {
    val spark = batchIds.sparkSession
    val dbg = sys.env.contains("GRAFT_FOLD_DEBUG")
    var tMark = System.nanoTime()
    def mark(l: String): Unit = if (dbg) {
      val now = System.nanoTime()
      println(f"FOLD_DBG $l%-24s ${(now - tMark) / 1e9}%6.2f s")
      tMark = now
    }
    ensureStoreMeta(spark, storeDir, storeParts, family = NoKeyFamily)
    mark("ensureStoreMeta")
    val parts = lit(storeParts.toLong)
    val byIdDir = s"$storeDir/labels/byId"
    val byCompDir = s"$storeDir/labels/byComp"
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    import spark.implicits._
    // Spark's xxhash64(longCol) = XXH64 over the 8-byte value, seed 42
    // — reproduced driver-side so the local fast path derives the same
    // partition ints the distributed plan would (spec-pinned)
    def liOf(id: Long): Int =
      (math.floorMod(org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(id, 42L), storeParts.toLong)).toInt

    // only pair endpoints need their PRIOR label — the ids whose
    // connectivity this batch can change. The pair set is
    // merge-activity-proportional, so the COMMON case fits the driver:
    // one bounded collect replaces the whole distributed contraction
    // (its ~10 tiny jobs were pure scheduler+planner floor — FOLDPROF
    // measured 17–45 s/tick of driver-side planning around sub-second
    // jobs at sf0.1). Same bounded-fast-path idiom and 2^19 bound as
    // ConnectedComponents.localThreshold; an oversized tick falls back
    // to the distributed contraction below.
    val maxLocal = localFoldThreshold
    val pairRows = pairs
      .select(col("id1").cast("long"), col("id2").cast("long"))
      .filter(col("id1").isNotNull && col("id2").isNotNull)
      .limit(math.min(maxLocal, Int.MaxValue - 1) + 1).collect()
    mark("pairs collect")
    val toRelease = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // the batch's distinct ids, limit-guard-collected: a streaming tick
    // fits the driver (and its singleton rows then cost zero jobs); an
    // oversized batch keeps singles distributed
    val batchRows = batchIds
      .select(col(batchIds.columns.head).cast("long").as("id"))
      .filter(col("id").isNotNull).distinct()
      .limit(math.min(maxLocal, Int.MaxValue - 1) + 1).collect()
    mark("batch collect")
    val batchLocal: Option[Array[Long]] =
      if (batchRows.length <= maxLocal) Some(batchRows.map(_.getLong(0))) else None

    // L0 commits: when the whole delta is driver-resident and small,
    // each sub-store gets ONE unpartitioned single-file commit instead
    // of a shuffled 64-dir dynamic-partition write (measured 2.2×
    // cheaper at tick scale). readStore treats a commit without
    // hash subdirectories as a whole-commit leaf — always read, never
    // pruned — which is exactly right for a small L0; compaction folds
    // accumulated L0s back into the partitioned layout, so the pruned
    // read path degrades by at most `compactEvery` small files.
    val l0Bound = 1 << 16

    def writePartitioned(byIdDF: DataFrame, byCompDF: DataFrame): Unit = {
      byIdDF
        .withColumn("li", pmod(xxhash64(col("id")), parts).cast("int"))
        .repartition(col("li")).write.partitionBy("li")
        .mode("overwrite").parquet(s"$byIdDir/batch=$batchTag")
      mark("byId write")
      byCompDF
        .withColumn("lc", pmod(xxhash64(col("component")), parts).cast("int"))
        .repartition(col("lc")).write.partitionBy("lc")
        .mode("overwrite").parquet(s"$byCompDir/batch=$batchTag")
      mark("byComp write")
    }

    if (pairRows.length <= maxLocal) {
      // ---- bounded DRIVER contraction (the streaming-tick common case)
      val edges = pairRows.map(r => (r.getLong(0), r.getLong(1)))
      val endsSet = edges.iterator.flatMap(e => Iterator(e._1, e._2))
        .toArray.distinct
      // min-wins across commits = the endpoints' current labels. A
      // small endpoint set ALSO pushes a literal isin to the scan —
      // with compaction's sorted files, parquet row-group min-max
      // stats then skip everything but the matching groups, so the
      // lookup reads O(matching row groups), not O(touched partition)
      val prevT: Array[(Long, Long)] =
        if (endsSet.isEmpty) Array.empty
        else {
          val base = readStore(spark, byIdDir, labelSchema, batchTag, "li",
            endsSet.iterator.map(liOf).toSet)
          val pushed = if (endsSet.length <= 1024)
            base.filter(col("id").isin(endsSet.toSeq: _*)) else base
          pushed
            .join(broadcast(endsSet.toSeq.toDF("id")), Seq("id"), "left_semi")
            .groupBy("id").agg(min("component").as("component"))
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        }
      mark("prevT collect")
      // union-find by MIN root over (prior-label star ∪ batch pairs):
      // identical semantics to ConnectedComponents.updateComponents
      val parent = new scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) {
          val p = parent(r)
          parent(r) = parent.getOrElse(p, p)
          r = parent(r)
        }
        r
      }
      def union(a: Long, b: Long): Unit = {
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      prevT.foreach { case (id, c) => union(id, c) }
      edges.foreach { case (a, b) => if (a != b) union(a, b) }
      val contractedLocal = parent.keysIterator
        .map(id => (id, find(id))).toArray
      // roots that merged downward → their off-batch members follow
      val remapLocal = prevT.iterator.map(_._2).toArray.distinct
        .map(r => (r, find(r))).filter { case (r, nr) => nr != r }
      mark("local contract")
      val cset = contractedLocal.iterator.map(_._1).toSet
      // blind singleton rows for the batch: new ids enter self-labelled;
      // a re-seen id's (id, id) loses to its existing label under
      // min-wins (labels are component MINIMA, so prior label ≤ id)
      val singlesLocal: Option[Array[(Long, Long)]] =
        batchLocal.map(_.iterator.filterNot(cset).map(id => (id, id)).toArray)
      // byComp rows keyed by a CURRENT root are exactly its members
      // (rows go stale only when their root merges away, and a
      // merged-away root is never current again). The membership of
      // the merged roots is usually tick-small — limit-guard-collect
      // it; a giant-cluster merge (> l0Bound members) must not transit
      // the driver and falls back to the distributed relabel.
      def membersExtraDF(contractedIds: DataFrame): DataFrame = {
        val base = readStore(spark, byCompDir, labelSchema, batchTag, "lc",
          remapLocal.iterator.map(e => liOf(e._1)).toSet)
        val pushed = if (remapLocal.length <= 1024)
          base.filter(col("component").isin(remapLocal.map(_._1).toSeq: _*))
        else base
        pushed
          .join(broadcast(remapLocal.toSeq.toDF("component", "new_root")),
            Seq("component"))
          .select(col("id"), col("new_root").as("component"))
          .join(broadcast(contractedIds), Seq("id"), "left_anti")
          .distinct()
      }
      val contractedIds = contractedLocal.map(_._1).toSeq.toDF("id")
      val membersLocal: Option[Array[(Long, Long)]] =
        if (remapLocal.isEmpty) Some(Array.empty)
        else {
          val rows = membersExtraDF(contractedIds)
            .limit(l0Bound + 1).collect()
          if (rows.length <= l0Bound)
            Some(rows.map(r => (r.getLong(0), r.getLong(1))))
          else None
        }
      if (dbg && remapLocal.nonEmpty) mark("membersExtra collect")
      (singlesLocal, membersLocal) match {
        case (Some(sl), Some(ml))
            if contractedLocal.length + sl.length + ml.length <= l0Bound =>
          // ---- fully-local tick → L0 single-file commits, written
          // DRIVER-SIDE (optimization round 18): the rows are already
          // driver-resident arrays, yet the Spark write path paid a
          // full Catalyst analysis + a one-task job per sub-store just
          // to serialize them — two jobs per tick of pure floor. A
          // direct parquet write produces the same single-file commit
          // (same columns, same row order, `_SUCCESS` marker for the
          // compaction adoption gate) with zero jobs.
          writeLocalLabelL0(spark, s"$byIdDir/batch=$batchTag",
            contractedLocal ++ ml ++ sl)
          mark("byId write (L0)")
          writeLocalLabelL0(spark, s"$byCompDir/batch=$batchTag",
            contractedLocal ++ ml)
          mark("byComp write (L0)")
        case _ =>
          val movedDF = contractedLocal.toSeq.toDF("id", "component")
          val movedAll = membersLocal match {
            case Some(ml) if ml.isEmpty => movedDF
            case Some(ml) => movedDF.unionByName(ml.toSeq.toDF("id", "component"))
            case None => movedDF.unionByName(membersExtraDF(contractedIds))
          }
          val moved = movedAll.persist(mad)
          toRelease += moved
          val singlesDF = singlesLocal match {
            case Some(rows) => rows.toSeq.toDF("id", "component")
            case None => batchIds
              .select(col(batchIds.columns.head).cast("long").as("id"))
              .filter(col("id").isNotNull).distinct()
              .join(broadcast(contractedIds), Seq("id"), "left_anti")
              .select(col("id"), col("id").as("component"))
          }
          writePartitioned(moved.unionByName(singlesDF), moved)
      }
    } else {
      // ---- distributed fallback: an oversized pair batch
      val ends = pairs.select(col("id1").cast("long").as("id"))
        .unionByName(pairs.select(col("id2").cast("long").as("id")))
        .filter(col("id").isNotNull).distinct()
        .persist(mad)
      toRelease += ends
      val endParts = ends
        .select(pmod(xxhash64(col("id")), parts).cast("int").as("li"))
        .distinct().collect().map(_.getInt(0)).toSet
      // NO broadcast hints in this branch: it only runs when the pair
      // batch exceeds the local threshold, exactly when ends/contracted/
      // remap can be multi-million rows — a forced broadcast would
      // collect them to the driver on the path meant to absorb
      // oversized ticks. AQE picks a broadcast join at runtime when a
      // side turns out small, so the common case loses nothing.
      val prevT = readStore(spark, byIdDir, labelSchema, batchTag, "li", endParts)
        .join(ends, Seq("id"), "left_semi")
        .groupBy("id").agg(min("component").as("component"))
        .persist(mad)
      val contracted = graft.ops.ConnectedComponents
        .updateComponents(prevT, pairs, "id1", "id2")
        .persist(mad)
      val remap = prevT.select(col("component").as("id")).distinct()
        .join(contracted, Seq("id"))
        .filter(col("component") =!= col("id"))
        .select(col("id").as("old_root"), col("component").as("new_root"))
        .persist(mad)
      val remapParts = remap
        .select(pmod(xxhash64(col("old_root")), parts).cast("int").as("lc"))
        .distinct().collect().map(_.getInt(0)).toSet
      toRelease += prevT
      toRelease += remap
      toRelease += contracted
      val membersExtra = readStore(
          spark, byCompDir, labelSchema, batchTag, "lc", remapParts)
        .join(remap.withColumnRenamed("old_root", "component"),
          Seq("component"))
        .select(col("id"), col("new_root").as("component"))
        .join(contracted.select("id"), Seq("id"), "left_anti")
        .distinct()
      val moved = contracted.unionByName(membersExtra).persist(mad)
      toRelease += moved
      val singles = batchIds
        .select(col(batchIds.columns.head).cast("long").as("id"))
        .filter(col("id").isNotNull).distinct()
        .join(contracted.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component"))
      writePartitioned(moved.unionByName(singles), moved)
    }
    publishCommit(spark,
      new Path(byIdDir), s"batch=$batchTag")
    publishCommit(spark,
      new Path(byCompDir), s"batch=$batchTag")
    toRelease.foreach(_.unpersist())
    mark("publish+unpersist")
    latestLabels(spark, storeDir)
  }

  /** Driver-side single-file L0 label commit (optimization round 18):
    * writes the (id, component) rows as one snappy parquet file plus
    * the `_SUCCESS` marker the compaction adoption gate requires —
    * byte-compatible with the Spark write it replaces (same required
    * int64 columns, same row order), but with no Spark job and no
    * Catalyst analysis. Bounded by construction: only the fully-local
    * tick path (≤ l0Bound driver-resident rows) calls it; oversized
    * ticks keep the distributed write. Overwrite semantics match the
    * replay contract (the dir is replaced atomically enough for the
    * single-writer tick: delete + rewrite of a dir no reader can see
    * until publishCommit). */
  private def writeLocalLabelL0(
      spark: SparkSession, dir: String, rows: Array[(Long, Long)]): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    StoreCommits.writeLocalParquet(spark, new Path(p, "part-00000.snappy.parquet"),
      "message labels { required int64 id; required int64 component; }", rows) {
      case (g, (id, c)) =>
        g.add("id", id)
        g.add("component", c)
    }
    fs.create(new Path(p, "_SUCCESS"), true).close()
  }

  /** Offline maintenance for the delta label store: resolve the
    * accumulated byId commits to the current labelling (min-wins) and
    * rewrite BOTH sub-stores as one commit each, dropping stale rows
    * and restoring O(storeParts) files. ONE
    * [[StoreCommits.foldAndSwap]] over both sub-stores: both are claimed
    * first (a manifest-less listing only adopts `_SUCCESS`-bearing dirs,
    * and unlisted dirs are then GC'd even when nothing folds), the
    * `_FOLDED` resurrection guard extends before each swap, and the swap
    * itself is one atomic manifest replace per sub-store. A crash between the two sub-store swaps leaves
    * them at different compaction generations but identical logical
    * content (stale byComp rows are unreachable — their roots are
    * merged away). ALSO the repair path for a mid-[[foldLabels]] crash
    * whose checkpoint was abandoned: byId-vs-byComp commit-set
    * divergence forces a fold that rebuilds byComp from byId's
    * resolved labelling — run this unconditionally on any restart that
    * does not replay the interrupted tag. SINGLE-WRITER contract: run
    * between ticks. */
  def compactLabels(spark: SparkSession, storeDir: String,
      gcGraceMs: Long = StoreCommits.defaultGcGraceMs): Unit = {
    // pending deletes force a fold (tombstoned ids must drop
    // physically); captured BEFORE it, so the retirement below retires
    // exactly the set the fold applied
    val appliedTombs = StoreCommits.tombstoneCommits(spark, storeDir, LabelTombs)
    var resolved: DataFrame = null
    StoreCommits.foldAndSwap(spark, storeDir,
      Seq(("labels/byId", "li", Seq("id")), ("labels/byComp", "lc", Seq("component"))),
      { case Seq(byId, byComp) =>
        // foldLabels commits byId then byComp (two publishes, not one
        // atomic point). A crash between them followed by a restart that
        // ABANDONS the streaming checkpoint (so the tag is never replayed)
        // leaves byComp missing that tick's relabel rows — a later merge
        // of an affected root would then strand its off-batch members.
        // Compaction heals this by construction (both sub-stores are
        // rebuilt from byId's resolved labelling), so commit-set
        // divergence forces a fold even when a sub-store has < 2 commits
        // (a byComp missing ENTIRELY is claimed empty, so it diverges).
        // Post-compaction-crash generation skew also lands here;
        // re-folding it is merely redundant, never wrong.
        val names = byId.map(_.getPath.getName).toSet
        if (names == byComp.map(_.getPath.getName).toSet && appliedTombs.isEmpty && names.size < 2)
          None
        else {
          val dir = new Path(storeDir)
          val parts = lit(StoreCommits.storePartsOf(
            dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir).toLong)
          resolved = StoreCommits.deltaMasked(
            readStoreFrom(spark, byId, labelSchema, " none ", "li", _ => true)
              .groupBy("id").agg(min("component").as("component")),
            spark, storeDir, "id", tombSubdir = LabelTombs)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // sorted within partitions (the targets' sort columns): tight
          // per-row-group id/component min-max stats, so the tick path's
          // pushed isin/equality filters skip row groups inside a big
          // compacted partition file
          Some((Seq(
              resolved.withColumn("li", pmod(xxhash64(col("id")), parts).cast("int")),
              resolved.withColumn("lc", pmod(xxhash64(col("component")), parts).cast("int"))),
            s"batch=compact-${java.util.UUID.randomUUID()}", None))
        }
      },
      afterSwap = () => {
        resolved.unpersist()
        // applied deletes retire AFTER both swaps — a crash in between
        // leaves dropped rows + standing tombstones, which re-filter to
        // the same answer until the next compaction (idempotent)
        StoreCommits.retireTombstones(spark, storeDir, appliedTombs, LabelTombs, gcGraceMs)
      },
      gcGraceMs = gcGraceMs, stampReplaced = false)
  }

  /** Incremental SPAN dedup (the streaming form of
    * [[graft.ops.Dedup.spanDedup]]): per micro-batch, each document's
    * 10-word spans check against the accumulated span-keeper store —
    * a span seen in ANY earlier batch (or claimed by a lower-id doc in
    * this one) is a duplicate. Emits per-doc stats
    * (id, n_spans, n_kept, kept_chars) where kept = spans this doc is
    * the FIRST keeper of, then folds the batch's newly-claimed span
    * hashes into the store.
    *
    * Note the semantics shift vs the batch operator: batch spanDedup
    * assigns keepers globally by min doc_id; the incremental form
    * assigns by ARRIVAL ORDER (first batch wins; min id within a
    * batch). That is the CCNet production semantics — a late
    * re-crawl's paragraphs dedup against the existing corpus, not the
    * other way around. State = (hash, keeper, len) per DISTINCT span,
    * laid out as `batch=<tag>/ph=<k>` (k = hash(span) mod storeParts)
    * so the per-tick anti-join reads only the store partitions the
    * batch's own span hashes fall into. Store commits are
    * batch-id-keyed overwrites, idempotent under foreachBatch replay
    * like [[step]]. */
  def spanStep(
      batch: DataFrame,
      storeDir: String,
      windowWords: Int = 10,
      batchTag: String = java.util.UUID.randomUUID().toString,
      storeParts: Int = 64): DataFrame = {
    val spark = batch.sparkSession
    ensureStoreMeta(spark, storeDir, storeParts, KeyFamily)
    val parts = lit(storeParts.toLong)
    val spanSchema = StructType(Seq(
      StructField("h", org.apache.spark.sql.types.StringType, nullable = false),
      StructField("keeper", LongType, nullable = false),
      StructField("len", IntegerTypeAlias, nullable = false)))
    val ws = split(col("text"), " ")
    val nChunks = greatest(ceil(size(ws) / lit(windowWords.toDouble)).cast("int"), lit(1))
    val spans = batch.select(
        col("doc_id").as("id"),
        explode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(ws, i * windowWords + 1, lit(windowWords)), " "))).as("span"))
      .filter(length(col("span")) > 0)
      .select(col("id"), md5(col("span")).as("h"), length(col("span")).as("len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchPh = spans
      .select(pmod(xxhash64(col("h")), parts).cast("int").as("ph"))
      .distinct().collect().map(_.getInt(0)).toSet
    // history drops rows THIS batch's docs claimed: after a rollback-
    // behind-compaction replay the batch's own claims live inside the
    // compacted commit (tag exclusion cannot reach them) and would
    // zero out the replay's kept-stats; within-batch re-claiming is
    // deterministic (min id), so dropping and re-claiming is exact —
    // the same new-wins rule as step()'s signature history
    val old = readStore(spark, s"$storeDir/spans", spanSchema, batchTag, "ph", batchPh)
      .join(spans.select(col("id").as("keeper")).distinct(), Seq("keeper"), "left_anti")
    // within-batch keeper = min id per hash; a span already in the
    // store is never re-claimed (arrival order wins)
    val claimed = spans.groupBy("h")
      .agg(min(col("id")).as("keeper"), max(col("len")).as("len"))
      .join(old.select(col("h")), Seq("h"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perDoc = spans.groupBy("id").agg(count(lit(1)).as("n_spans"))
    val keptPerDoc = claimed.groupBy(col("keeper").as("id"))
      .agg(count(lit(1)).as("n_kept"), sum(col("len")).cast("long").as("kept_chars"))
    val out = perDoc.join(keptPerDoc, Seq("id"), "left")
      .select(col("id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_chars"), lit(0L)).as("kept_chars"))
      .cache()
    out.count()
    claimed.withColumn("ph", pmod(xxhash64(col("h")), parts).cast("int"))
      .repartition(col("ph")).write.partitionBy("ph")
      .mode("overwrite").parquet(s"$storeDir/spans/batch=$batchTag")
    publishCommit(spark,
      new Path(s"$storeDir/spans"), s"batch=$batchTag")
    spans.unpersist()
    claimed.unpersist()
    out
  }

  /** Incremental EXACT-SUBSTRING dedup (the streaming form of
    * [[graft.ops.Dedup.exactSubstrSpans]]): per micro-batch, each
    * document's STRIDE-1 `windowWords`-word windows check against the
    * accumulated first-occurrence store — a window seen in ANY earlier
    * batch (or first claimed by a lower (id, pos) in this one) marks
    * its positions duplicated; overlapping/adjacent duplicated windows
    * merge per document into maximal spans (gaps-and-islands), emitted
    * as (id, span_start, span_end, n_windows). The batch's newly-seen
    * window hashes then fold into the store.
    *
    * Same semantics shift as [[spanStep]] vs its batch twin: keepers
    * are assigned by ARRIVAL ORDER (first batch wins; (id, pos) order
    * within a batch) — a late re-crawl dedups against the existing
    * corpus. On a single batch of the whole corpus the output equals
    * the batch operator exactly. State = (h, keeper) per DISTINCT
    * window hash under `wins/batch=<tag>/pw=<k>`; per-tick reads prune
    * to the batch's own hash partitions; commits are batch-id-keyed
    * overwrites, idempotent under foreachBatch replay like [[step]]. */
  /** @param prefilterBroadcastLimit max distinct batch hashes for the
    *   BROADCAST history prefilter; above it a SHUFFLE semi-join takes
    *   over (see below) — the parameter exists so tests can force the
    *   fallback tier without a million-window batch. */
  def substrStep(
      batch: DataFrame,
      storeDir: String,
      windowWords: Int = 10,
      batchTag: String = java.util.UUID.randomUUID().toString,
      storeParts: Int = 64,
      prefilterBroadcastLimit: Long = 1000000L): DataFrame = {
    val spark = batch.sparkSession
    ensureStoreMeta(spark, storeDir, storeParts, KeyFamily)
    val parts = lit(storeParts.toLong)
    val L = windowWords
    val winSchema = StructType(Seq(
      StructField("h", org.apache.spark.sql.types.StringType, nullable = false),
      StructField("keeper", LongType, nullable = false)))
    val ws = filter(split(col("text"), " "), w => length(w) > 0)
    val wins = batch
      .select(col("doc_id").as("id"), ws.as("ws"))
      .filter(size(col("ws")) >= L)
      .select(col("id"), posexplode(transform(
        sequence(lit(1), size(col("ws")) - (L - 1)),
        p => md5(array_join(slice(col("ws"), p, lit(L)), " ")))))
      .select(col("id"), (col("pos") + 1).as("p"), col("col").as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchPw = wins
      .select(pmod(xxhash64(col("h")), parts).cast("int").as("pw"))
      .distinct().collect().map(_.getInt(0)).toSet
    // replay rule (same as spanStep): drop history rows THIS batch's
    // docs claimed — after a rollback-behind-compaction replay the
    // batch's own first occurrences live inside the compacted commit,
    // and treating them as foreign history would mark the claiming
    // doc's own windows duplicated
    val old = readStore(spark, s"$storeDir/wins", winSchema, batchTag, "pw", batchPw)
      .join(wins.select(col("id").as("keeper")).distinct(), Seq("keeper"), "left_anti")
    // hash prefilter on the history side (same contract as step()'s
    // bucket-key semi-join): only store rows sharing a hash with the
    // batch can mark anything, so the history join input must stay
    // O(matching), never O(store). Two tiers:
    //   - batch under the broadcast guard: broadcast semi-join on the
    //     8-byte xxhash64 of the window hash (~4x smaller broadcast
    //     than the 32-char hex md5; a prefilter collision only lets an
    //     extra history row through — the mark join below is on the
    //     exact h either way);
    //   - above the guard: a SHUFFLE left_semi on h — still
    //     O(matching) output at any batch size, instead of abandoning
    //     the prefilter and scanning the whole accumulated store.
    val batchHashes = wins.select("h").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hist =
      if (batchHashes.count() <= prefilterBroadcastLimit)
        old.withColumn("_pf", xxhash64(col("h")))
          .join(broadcast(batchHashes.select(xxhash64(col("h")).as("_pf")).distinct()),
            Seq("_pf"), "left_semi")
          .drop("_pf")
      else old.join(batchHashes, Seq("h"), "left_semi")
    // within-batch first occurrence per hash by (id, p) — a per-hash
    // MIN aggregation joined back, NOT a row_number window: partial
    // aggregation absorbs a boilerplate hash's skew map-side, and a
    // skewed join partition is AQE-splittable where a window sort is
    // not (same election as the batch operator, Dedup.exactSubstrSpans,
    // including its build-side shrink: only count>=2 hashes can mark a
    // NON-FIRST window, so that join's build side is duplicated-
    // hashes-sized and AQE broadcasts it). A window whose hash is in
    // history is duplicated at EVERY in-batch position — a semi-join
    // against DISTINCT history hashes: a doc genuinely recurring in a
    // later batch folds its hashes a second time with the same keeper
    // (replay tag exclusion only covers the SAME batch), and duplicate
    // (h, keeper) store rows must not multiply marked window rows.
    val firsts = wins.groupBy("h")
      .agg(min(struct(col("id"), col("p"))).as("_f"), count(lit(1)).as("_n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val histH = hist.select("h").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupsA = wins.join(firsts.filter(col("_n") >= 2), Seq("h"))
      .filter(struct(col("id"), col("p")) =!= col("_f"))
      .select("id", "p")
    val dupsB = wins.join(histH, Seq("h"), "left_semi").select("id", "p")
    // a window can be both a non-first occurrence AND history-matched —
    // distinct so the islands merge counts it once
    val dups = dupsA.unionByName(dupsB).distinct()
    val byDoc = Window.partitionBy("id").orderBy(col("p").asc)
    val out = dups
      .withColumn("_prev", lag(col("p"), 1).over(byDoc))
      .withColumn("_new",
        when(col("_prev").isNull || col("p") > col("_prev") + L, 1).otherwise(0))
      .withColumn("_grp", sum(col("_new")).over(byDoc))
      .groupBy(col("id"), col("_grp"))
      .agg(min(col("p")).cast("long").as("span_start"),
        (max(col("p")) + (L - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .drop("_grp")
      .cache()
    out.count()
    // fold: first occurrences of hashes history has not seen —
    // derived from the aggregation directly, never re-touching wins
    firsts
      .join(histH, Seq("h"), "left_anti")
      .select(col("h"), col("_f.id").as("keeper"))
      .withColumn("pw", pmod(xxhash64(col("h")), parts).cast("int"))
      .repartition(col("pw")).write.partitionBy("pw")
      .mode("overwrite").parquet(s"$storeDir/wins/batch=$batchTag")
    publishCommit(spark,
      new Path(s"$storeDir/wins"), s"batch=$batchTag")
    wins.unpersist()
    batchHashes.unpersist()
    firsts.unpersist()
    histH.unpersist()
    out
  }

  /** Streaming wrapper: documents arrive as parquet files in
    * `docsPath`; verified near-dup pairs append to `pairsDir`.
    *
    * `compactEvery` > 0 folds the store's accumulated commits every
    * that many ticks, INSIDE the foreachBatch loop — the one place the
    * single-writer contract holds by construction — so a long-running
    * stream keeps O(storeParts) files and an O(compactEvery) commit
    * listing instead of accreting one commit per tick forever. Safe
    * against the crash-before-checkpoint-commit replay: the `_FOLDED`
    * ledger suppresses the replayed tick's re-publish beside its
    * compacted copy (see [[compact]]/[[StoreCommits.readFolded]]). */
  def start(
      spark: SparkSession,
      docsPath: String,
      docsSchema: StructType,
      storeDir: String,
      pairsDir: String,
      checkpoint: String,
      cfg: Config = Config(),
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      compactEvery: Int = 64): StreamingQuery = {
    spark.readStream.schema(docsSchema).parquet(docsPath)
      .writeStream
      .queryName("dedup-on-ingest")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // (queryId, batchId) keys the store commit: a replayed
        // micro-batch (same checkpoint → same queryId AND batchId)
        // overwrites its own directories — idempotent — while a stream
        // restarted against a DELETED checkpoint gets a fresh queryId,
        // so its batch 0 cannot clobber an earlier run's batch=0
        // history (bare batchId would silently destroy it)
        val qid = Option(batch.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId")).getOrElse("q")
        val tag = s"$qid-$batchId"
        val pairs = step(batch, storeDir, cfg, batchTag = tag)
        pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$tag")
        pairs.unpersist()
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compact(spark, storeDir)
        ()
      }
      .start()
  }

  /** Structured Streaming entry for [[clusterStep]]: files in, a
    * durable corpus labelling maintained under `storeDir/labels` —
    * read it with [[latestLabels]]. Same (queryId, batchId) commit
    * keying as [[start]], so checkpoint replays rewrite their own
    * delta commit and a restart against a deleted checkpoint cannot
    * clobber an earlier run's history. `compactEvery` as in [[start]]
    * — here it also folds the label sub-stores ([[compactLabels]]);
    * the delta fold is idempotent even when its commit was compacted
    * away before the replay (min-wins — see [[foldLabels]]). */
  def startClusters(
      spark: SparkSession,
      docsPath: String,
      docsSchema: StructType,
      storeDir: String,
      checkpoint: String,
      maxDist: Int = 3,
      storeParts: Int = 64,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      compactEvery: Int = 64): StreamingQuery = {
    spark.readStream.schema(docsSchema).parquet(docsPath)
      .writeStream
      .queryName("cluster-maintenance")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val qid = Option(batch.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId")).getOrElse("q")
        clusterStep(batch, storeDir, maxDist, storeParts,
          batchTag = s"$qid-$batchId")
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          compact(spark, storeDir)
          compactLabels(spark, storeDir)
        }
        ()
      }
      .start()
  }

  /** The store's current full labelling — min-wins over every visible
    * byId delta commit (labels are monotone non-increasing, so the
    * minimum IS the latest). Lazy: listing is driver-side, the
    * resolve is one hash aggregation when a caller forces it; pending
    * deletes are collected into the tombstone mask at call time (one
    * scan job). Empty when no tick has published yet. */
  def latestLabels(spark: SparkSession, storeDir: String): DataFrame =
    StoreCommits.deltaMasked(
      readStore(spark, s"$storeDir/labels/byId", labelSchema, " none ", "li", _ => true)
        .groupBy("id").agg(min("component").as("component")),
      spark, storeDir, "id", tombSubdir = LabelTombs)

  private val LabelTombs = "labels/tombstones"

  /** Upsert-shaped DELETE for the cluster-label store: tombstone doc
    * `ids` — [[latestLabels]] stops returning them immediately, the
    * next [[compactLabels]] drops their byId rows physically (byComp
    * rebuilds from the survivors) and retires the tombstones. A
    * deleted id may still APPEAR AS A LABEL VALUE (component ids are
    * min member ids — opaque cluster names, not membership); only the
    * `id` column honors the mask. Mask-until-compaction contract and
    * single-writer discipline as [[StoreCommits.tombstoneStep]]. */
  def deleteLabels(
      ids: DataFrame, storeDir: String,
      batchTag: String = java.util.UUID.randomUUID().toString): Long =
    StoreCommits.tombstoneStep(ids, storeDir, ids.columns.head,
      batchTag, subdir = LabelTombs)
}

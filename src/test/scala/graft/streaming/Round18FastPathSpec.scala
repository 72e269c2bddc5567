package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-18 (optimization round 2) compacted-fast-path gating — the
  * round-17 ADVICE item: the one-row-per-id fast paths (liveVectors,
  * the fused tiers' exact re-rank) must trust a fold ONLY when it was
  * written by `electLatestOne` (the in-dir `_ONE_ROW_PER_ID` marker —
  * a pre-round-17 `electLatest` fold keeps equal-version duplicate
  * rows and must keep paying the read-path election), and the
  * fast-path decision must ride the SAME visible-commit set the scan
  * adopted, never a fresh manifest read.
  *
  * Pinned here:
  *   - a round-18 compaction stamps the marker and liveVectors returns
  *     exactly one row per live id on the fast path;
  *   - a LEGACY fold (fold-target name, NO marker) holding equal-
  *     version duplicates still elects: liveVectors returns one row
  *     per id, not the duplicates;
  *   - retireTombstones stamps applied dirs into the `_RETIRED` grace
  *     ledger (the crash-ordering hardening: stamped BEFORE the
  *     manifest rewrite, so a crash between the two can only extend
  *     the grace, never skip it). */
class Round18FastPathSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb: DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")

  test("compacted fold carries the one-row marker and liveVectors skips the election correctly") {
    val store = java.nio.file.Files.createTempDirectory("r18one").toString
    (0 until 2).foreach { c =>
      IvfSqStream.upsertStep(
        emb.filter(pmod(col("vec_id"), lit(2)) === c), store,
        dim = 64, nlist = 8, seed = 41L, batchTag = s"a$c")
    }
    val before = IvfSqStream.liveVectors(spark, store).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    IvfSqStream.compactStore(spark, store)
    val root = new org.apache.hadoop.fs.Path(s"$store/sqvecs")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = StoreCommits.visibleCommits(fs, root)
    assert(commits.size == 1 &&
      commits.head.getPath.getName.startsWith("batch=compact-"))
    assert(StoreCommits.compactedOnly(fs, commits),
      "an electLatestOne fold must qualify for the fast path")
    val after = IvfSqStream.liveVectors(spark, store).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(after == before, "fast-path liveVectors must equal the elected read")
    assert(after.size == before.size)
  }

  test("a legacy fold (no marker) with equal-version duplicates still pays the election") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("r18legacy").toString
    val fifty = emb.orderBy("vec_id").limit(50)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IvfSqStream.upsertStep(fifty.filter(col("vec_id") % 2 === 0), store,
      dim = 64, nlist = 8, seed = 41L, batchTag = "a0")
    IvfSqStream.upsertStep(fifty.filter(col("vec_id") % 2 === 1), store,
      dim = 64, nlist = 8, seed = 41L, batchTag = "a1")
    fifty.unpersist()
    IvfSqStream.compactStore(spark, store)
    val root = new org.apache.hadoop.fs.Path(s"$store/sqvecs")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the pre-round-17 electLatest fold: strip the marker from
    // the fold target (name unchanged — still a fold target) and
    // DUPLICATE its rows at the same version (what equal-version
    // duplicates under the old election looked like)
    val target = StoreCommits.visibleCommits(fs, root).head.getPath
    assert(target.getName.startsWith("batch=compact-"),
      s"expected a fold target, got ${target.getName}")
    fs.delete(new org.apache.hadoop.fs.Path(target, "_ONE_ROW_PER_ID"), false)
    val subs = fs.listStatus(target).filter(_.isDirectory).map(_.getPath.toString)
    val rows = spark.read.schema(SqCodec.schema).parquet(subs.toSeq: _*)
    val doubled = rows.unionByName(rows)
      .withColumn("ab",
        pmod(xxhash64(col("cell").cast("long")), lit(64L)).cast("int"))
    val tmp = java.nio.file.Files.createTempDirectory("r18dup").toString
    doubled.write.partitionBy("ab").mode("overwrite").parquet(tmp)
    fs.delete(target, true)
    org.apache.hadoop.fs.FileContext.getFileContext(target.toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(new org.apache.hadoop.fs.Path(tmp), target)
    val commits = StoreCommits.visibleCommits(fs, root)
    assert(!StoreCommits.compactedOnly(fs, commits),
      "a markerless fold must NOT qualify for the fast path")
    val live = IvfSqStream.liveVectors(spark, store)
    val ids = live.select("neighbor_id").as[Long].collect()
    assert(ids.length == ids.distinct.length,
      "the election must collapse legacy equal-version duplicates")
    assert(ids.length == 50)
  }

  test("retireTombstones stamps applied dirs into the grace ledger") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("r18retire").toString
    IvfSqStream.upsertStep(emb.limit(20), store,
      dim = 64, nlist = 8, seed = 41L, batchTag = "a0")
    val victim = emb.select("vec_id").as[Long].head()
    IvfSqStream.deleteStep(Seq(victim).toDF("vec_id"), store, batchTag = "d0")
    IvfSqStream.compactStore(spark, store) // default grace
    val tombRoot = new org.apache.hadoop.fs.Path(s"$store/tombstones")
    val fs = tombRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // manifest empty (mask retired) but the dir graced AND ledgered
    assert(StoreCommits.tombstoneCommits(spark, store).isEmpty)
    val ledger = StoreCommits.readSmallText(fs,
      new org.apache.hadoop.fs.Path(tombRoot, "_RETIRED")).getOrElse("")
    assert(ledger.contains("batch=d0"),
      s"applied tombstone must be stamped in the ledger, got: '$ledger'")
    assert(fs.exists(new org.apache.hadoop.fs.Path(tombRoot, "batch=d0")),
      "graced tombstone dir must still exist")
  }

  test("dedup-store compaction keeps replaced generations under the default grace") {
    import spark.implicits._
    def doc(id: Long, ws: Seq[String]) = (id, ws.mkString(" "))
    val store = java.nio.file.Files.createTempDirectory("r18dgrace").toString
    val b1 = Seq(doc(1L, (0 until 60).map(i => s"w$i"))).toDF("doc_id", "text")
    val b2 = Seq(doc(2L, (0 until 60).map(i => s"w$i"))).toDF("doc_id", "text")
    DedupStream.step(b1, store, batchTag = "g1").unpersist()
    DedupStream.step(b2, store, batchTag = "g2").unpersist()
    def dirs(sub: String): Set[String] =
      new java.io.File(s"$store/$sub").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getName).toSet
    val gen0 = dirs("buckets")
    assert(gen0 == Set("batch=g1", "batch=g2"))
    // default grace: replaced dirs are stamped into _RETIRED and KEPT —
    // a concurrent batch-mode reader mid-scan finishes its lazy read
    // (the ANN stores' round-17 contract, unified here in round 18)
    DedupStream.compact(spark, store)
    assert(gen0.subsetOf(dirs("buckets")),
      "replaced dedup generation must survive under the default grace")
    val root = new org.apache.hadoop.fs.Path(s"$store/buckets")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val visible = StoreCommits.readManifest(fs, root).get
    assert(visible.size == 1 && visible.head.startsWith("batch=compact-"),
      s"manifest must hide retired dirs: $visible")
    val ledger = StoreCommits.readSmallText(fs,
      new org.apache.hadoop.fs.Path(root, "_RETIRED")).getOrElse("")
    assert(ledger.contains("batch=g1") && ledger.contains("batch=g2"),
      s"replaced dirs must be stamped: '$ledger'")
    // grace elapsed (0): the next compact collects them
    DedupStream.compact(spark, store, gcGraceMs = 0L)
    assert(gen0.intersect(dirs("buckets")).isEmpty,
      "aged-out dedup generations must be collected")
  }

  test("quotaPack handles BinaryType strata by value equality") {
    import spark.implicits._
    // two binary strata, values meaningful only by content
    val rows = (0 until 40).map { i =>
      (i.toLong, Array[Byte]((i % 2).toByte, 7), 10L)
    }
    val df = rows.toDF("doc_id", "src", "tok")
    val packed = graft.ops.Corpus.quotaPack(
      df, "src", col("tok"), budgetTokens = 25, numPartitions = Some(3))
    val got = packed
      .select(col("doc_id"), col("src"), col("pack_id"), col("pack_offset"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)(0).toInt,
        r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // expected: per stratum, docs in id order head-to-tail, 10 tokens
    // each, budget 25 → starts 0,10,20,30,... pack=start/25, off=start%25
    val expect = rows.map(_._1).sorted.map { id =>
      val s = (id % 2).toInt
      val ord = rows.count(r => r._2(0) == s && r._1 < id)
      val start = 10L * ord
      (id, s, start / 25, start % 25)
    }
    assert(got.toSeq == expect,
      s"binary strata must pack by value equality")
    spark.catalog.clearCache()
  }
}

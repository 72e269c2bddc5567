package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.types.StructType

/** The ONE store read mask ([[StoreCommits.deltaMasked]]: id → lowest
  * surviving version, a tombstoned id → Long.MaxValue) on every store
  * kind. Contract under test, per kind:
  *   - a re-upsert after a delete stays masked until the compaction
  *     that applies the delete, and inserts fresh after it;
  *   - a row of the fold is masked by a newer delta version;
  *   - equal-version duplicates in one batch both survive the mask and
  *     resolve through the [[StoreCommits.latestVecs]] tie-break;
  *   - the distributed path (over `broadcastDeltaBytes`) returns the
  *     same rows as the collected one;
  *   - a search runs in at most 3 Spark jobs (LSH, IVF) or 6 (the
  *     exact-re-rank IVF-PQ and IVF-SQ), and a delete in exactly 1. */
class StoreMaskSpec extends SparkSpec {

  private val dim = 64

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def rv(id: Long): Array[Float] = {
    val r = new scala.util.Random(id * 7919L + 17L)
    unit(Array.fill(dim)(r.nextGaussian()))
  }

  // the query direction and near copies of it at strictly lower cosines
  private val u: Array[Float] = rv(9001L)
  private val wOrth: Array[Float] = {
    val w0 = rv(9002L)
    val dot = u.indices.map(i => u(i).toDouble * w0(i)).sum
    unit(Array.tabulate(dim)(i => w0(i) - dot * u(i)))
  }
  private def near(t: Double): Array[Float] =
    unit(Array.tabulate(dim)(i => u(i) + t * wOrth(i)))

  private def df(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private val background: Seq[(Long, Array[Float])] = (100L until 300L).map(id => id -> rv(id))
  private def queries: DataFrame = df(Seq(1L -> u))

  private final case class Kind(
      name: String, sub: String, schema: StructType, store: VectorStore,
      up: (DataFrame, String, String) => Unit,
      search: (String, DataFrame) => DataFrame,
      compact: String => Unit, maxSearchJobs: Int)

  private val kinds = Seq(
    Kind("ann", "annvecs", LshCodec.schema, AnnStream,
      (b, s, t) => { AnnStream.upsertStep(b, s, dim, planes = 6, seed = 7L, tables = 8, batchTag = t); () },
      (s, q) => AnnStream.searchStore(spark, s, q, k = 10),
      s => AnnStream.compactStore(spark, s), maxSearchJobs = 3),
    Kind("ivf", "ivfvecs", IvfCodec.schema, IvfStream,
      (b, s, t) => { IvfStream.upsertStep(b, s, dim, nlist = 4, seed = 13L, batchTag = t); () },
      (s, q) => IvfStream.searchStore(spark, s, q, k = 10, nprobe = 4),
      s => IvfStream.compactStore(spark, s), maxSearchJobs = 3),
    Kind("ivfpq", "pqvecs", PqCodec.schema, IvfPqStream,
      (b, s, t) => { IvfPqStream.upsertStep(b, s, dim, nlist = 4, m = 8, seed = 37L, batchTag = t); () },
      (s, q) => IvfPqStream.searchStore(spark, s, q, k = 10, nprobe = 4, rerank = 64),
      s => IvfPqStream.compactStore(spark, s), maxSearchJobs = 6),
    Kind("ivfsq", "sqvecs", SqCodec.schema, IvfSqStream,
      (b, s, t) => { IvfSqStream.upsertStep(b, s, dim, nlist = 4, seed = 41L, batchTag = t); () },
      (s, q) => IvfSqStream.searchStore(spark, s, q, k = 10, nprobe = 4, rerank = 64),
      s => IvfSqStream.compactStore(spark, s), maxSearchJobs = 6))

  private def newStore(k: Kind): String =
    java.nio.file.Files.createTempDirectory(s"mask${k.name}").toString

  /** (neighbor_id, cosine) of query 1's results. */
  private def hits(k: Kind, store: String): Map[Long, Double] = {
    val got = k.search(store, queries).collect().map(r => r.getLong(1) -> r.getDouble(3))
    assert(got.map(_._1).distinct.length == got.length, s"${k.name}: an id served twice: ${got.toSeq}")
    got.toMap
  }

  private def live(k: Kind, store: String): Map[Long, Seq[Float]] = {
    val rows = k.store.liveVectors(spark, store).collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    assert(rows.map(_._1).distinct.length == rows.length, s"${k.name}: liveVectors holds an id twice")
    rows.toMap
  }

  private def delete(k: Kind, store: String, id: Long, tag: String): Long = {
    import spark.implicits._
    k.store.deleteStep(Seq(id).toDF("vec_id"), store, tag)
  }

  kinds.foreach { k =>
    test(s"${k.name}: a re-upsert after a delete stays masked until the compaction, then inserts fresh") {
      val store = newStore(k)
      k.up(df(background :+ (7L -> u)), store, "b0")
      assert(hits(k, store).get(7L).exists(c => math.abs(c - 1.0) < 1e-9))
      assert(delete(k, store, 7L, "d0") == 1L)
      k.up(df(Seq(7L -> u)), store, "b1")
      assert(!hits(k, store).contains(7L), "re-upserted id served before the delete's compaction")
      assert(!live(k, store).contains(7L))
      k.compact(store)
      assert(!hits(k, store).contains(7L), "the compaction must drop the re-upsert with the delete")
      assert(!live(k, store).contains(7L))
      k.up(df(Seq(7L -> u)), store, "b2")
      assert(hits(k, store).get(7L).exists(c => math.abs(c - 1.0) < 1e-9),
        "an upsert after the compaction must insert fresh")
      assert(live(k, store).contains(7L))
    }

    test(s"${k.name}: a fold row is masked by a newer delta version") {
      val store = newStore(k)
      val v2 = near(0.35)
      val c2 = StoreCommits.cosineSeq(u, v2)
      k.up(df(background :+ (7L -> u)), store, "b0")
      k.compact(store)
      k.up(df(Seq(7L -> v2)), store, "b1")
      val got = hits(k, store)
      assert(got.get(7L).exists(c => math.abs(c - c2) < 1e-9),
        s"must serve the delta's cosine $c2, not the fold's 1.0: ${got.get(7L)}")
      assert(live(k, store)(7L) == v2.toSeq)
    }

    test(s"${k.name}: equal-version duplicates in one batch resolve through the latestVecs tie-break") {
      val store = newStore(k)
      val (d1, d2) = (near(0.35), near(0.2))
      // latestVecs: max (ver, cvec) — at one version, array order decides
      val first = d1.zip(d2).find { case (a, b) => a != b }.get
      val winner = if (first._1 > first._2) d1 else d2
      k.up(df(background :+ (7L -> u)), store, "b0")
      k.up(df(Seq(7L -> d1, 7L -> d2)), store, "b1")
      assert(live(k, store)(7L) == winner.toSeq)
      val want =
        if (k.maxSearchJobs > 3) StoreCommits.cosineSeq(u, winner) // exact re-rank
        else math.max(StoreCommits.cosineSeq(u, d1), StoreCommits.cosineSeq(u, d2))
      val got = hits(k, store).get(7L)
      assert(got.exists(c => math.abs(c - want) < 1e-9),
        s"must serve $want (the masked fold row reads 1.0): $got")
    }

    test(s"${k.name}: the distributed mask (broadcastDeltaBytes = 0) returns the collected mask's rows") {
      val store = newStore(k)
      k.up(df(background :+ (7L -> u)), store, "b0")
      k.compact(store)
      k.up(df((100L until 140L).map(id => id -> rv(id + 1000L))), store, "b1")
      delete(k, store, 120L, "d0")
      delete(k, store, 250L, "d1")
      k.up(df(Seq(130L -> rv(5L), 301L -> rv(301L))), store, "b2")
      val f = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val commits = StoreCommits.visibleCommits(f, new org.apache.hadoop.fs.Path(s"$store/${k.sub}"))
      val all = StoreCommits.readStoreFrom(spark, commits, k.schema,
        excludeTag = " none ", partCol = "ab", wanted = (0 until 64).toSet)
      def masked(bytes: Long) = StoreCommits.deltaMasked(all, spark, store, "neighbor_id",
        commits, broadcastDeltaBytes = bytes)
      def rows(m: DataFrame) = m.select("neighbor_id", "ver").collect()
        .map(r => (r.getLong(0), r.getLong(1))).distinct.sorted.toSeq
      def joins(m: DataFrame) = m.queryExecution.optimizedPlan.collect { case j: Join => j }.size
      val (collected, distributed) = (masked(1L << 30), masked(0L))
      assert(joins(collected) == 0 && joins(distributed) == 1)
      val got = rows(collected)
      assert(rows(distributed) == got)
      val ids = got.map(_._1)
      assert(ids.distinct.size == ids.size, "one surviving version per id")
      assert(!ids.contains(120L) && !ids.contains(250L), "tombstoned ids survive")
      assert(ids.toSet == ((100L until 300L).toSet - 120L - 250L + 7L + 301L))
      // every re-upserted id survives at its newest version only
      val ver = got.toMap
      assert(ver(130L) > ver(131L) && ver(131L) > ver(7L))
    }

    test(s"${k.name}: a search runs in at most ${k.maxSearchJobs} Spark jobs, a delete in 1") {
      val store = newStore(k)
      k.up(df(background :+ (7L -> u)), store, "b0")
      k.compact(store)
      k.up(df((100L until 140L).map(id => id -> rv(id + 1000L))), store, "b1")
      assert(jobsDuring { delete(k, store, 120L, "d0"); () } == 1)
      hits(k, store) // warm
      val jobs = jobsDuring { k.search(store, queries).collect(); () }
      assert(jobs <= k.maxSearchJobs, s"${k.name} search ran $jobs jobs")
    }
  }
}

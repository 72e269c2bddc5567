package graftbench

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.streaming.{AnnStream, IvfPqStream, IvfSqStream, IvfStream}

/** The live vector set the four stores must agree with: a seeded 64-dim
  * gaussian corpus plus, per query, five planted copies at 1°…5° from
  * it — far inside every store's probe radius, and far above any
  * distractor (a random 64-dim direction sits near 90°). */
final class VectorModel(seed: Long) {
  import VectorWorkload._
  private val rnd = new java.util.SplittableRandom(seed)
  val live = mutable.LongMap.empty[Array[Float]]
  val deleted = mutable.Set.empty[Long]
  private var nextId = 1L

  private def gaussian(): Array[Double] = Array.fill(Dim) {
    // Box–Muller on the seeded stream
    val u = 1.0 - rnd.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }
  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
  }
  def fresh(): (Long, Array[Float]) = {
    val id = nextId; nextId += 1; (id, gaussian().map(_.toFloat))
  }

  val queries: IndexedSeq[(Long, Array[Double])] =
    (0 until Queries).map(q => (QueryIdBase + q, unit(gaussian())))

  /** A vector `deg` degrees from query `q`, in a fresh random direction. */
  def near(q: Int, deg: Double): Array[Float] = {
    val qv = queries(q)._2
    val g = gaussian()
    val dot = g.zip(qv).map { case (a, b) => a * b }.sum
    val u = unit(g.zip(qv).map { case (a, b) => a - dot * b })
    val r = math.toRadians(deg)
    qv.zip(u).map { case (a, b) => (math.cos(r) * a + math.sin(r) * b).toFloat }
  }

  def plantedId(q: Int, c: Int): Long = PlantedIdBase + q * 10L + c

  /** Brute force over the live set: the top-k ids by cosine. */
  def topK(q: Int): Set[Long] = {
    val qv = queries(q)._2
    live.toSeq.map { case (id, v) =>
      var dot, nn = 0.0
      var i = 0
      while (i < Dim) { dot += v(i) * qv(i); nn += v(i).toDouble * v(i); i += 1 }
      (id, dot / math.sqrt(nn))
    }.sortBy(-_._2).take(K).map(_._1).toSet
  }
}

/** The `vector_store` workload: ticks of upserts (new ids, re-upserts of
  * live ids), tombstone deletes and a search batch on each of the four
  * durable stores, after which one store compacts. */
object VectorWorkload {
  val Dim = 64
  val BaseVectors = 4000
  val Queries = 16
  val Copies = 5
  val K = 3
  val NewPerTick = 400
  val ReupsertPerTick = 100
  val DeletePerTick = 50
  val SetupReps = 3
  val QueryIdBase = 2000000000L
  val PlantedIdBase = 1000000000L

  /** One store kind behind the same five calls. */
  final case class Kind(
      name: String,
      upsert: (DataFrame, String) => Unit,
      delete: (DataFrame, String) => Long,
      search: (DataFrame, String) => DataFrame,
      compact: String => Unit)

  def kinds(spark: SparkSession): Seq[Kind] = Seq(
    Kind("ann",
      (b, d) => AnnStream.upsertStep(b, d, Dim, planes = 8, tables = 4),
      (ids, d) => AnnStream.deleteStep(ids, d),
      (q, d) => AnnStream.searchStore(spark, d, q, K),
      d => AnnStream.compactStore(spark, d)),
    Kind("ivf",
      (b, d) => IvfStream.upsertStep(b, d, Dim),
      (ids, d) => IvfStream.deleteStep(ids, d),
      (q, d) => IvfStream.searchStore(spark, d, q, K),
      d => IvfStream.compactStore(spark, d)),
    Kind("ivfpq",
      (b, d) => IvfPqStream.upsertStep(b, d, Dim),
      (ids, d) => IvfPqStream.deleteStep(ids, d),
      (q, d) => IvfPqStream.searchStore(spark, d, q, K),
      d => IvfPqStream.compactStore(spark, d)),
    Kind("ivfsq",
      (b, d) => IvfSqStream.upsertStep(b, d, Dim),
      (ids, d) => IvfSqStream.deleteStep(ids, d),
      (q, d) => IvfSqStream.searchStore(spark, d, q, K),
      d => IvfSqStream.compactStore(spark, d)))

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def vectors(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(rows.map { case (id, v) => Row(id, v.toSeq) }.asJava, vecSchema)

  /** One tick's operations, applied to the model before the stores see
    * them so every search is checked against the state it should see. */
  final case class TickOps(upserts: Seq[(Long, Array[Float])], deletes: Seq[Long])

  private def nextOps(m: VectorModel, tick: Int, rnd: java.util.SplittableRandom): TickOps = {
    val fresh = Seq.fill(NewPerTick)(m.fresh())
    val distractors = m.live.keys.filter(_ < PlantedIdBase).toIndexedSeq.sorted
    val pick = rnd.ints(0, distractors.size).distinct()
      .limit(ReupsertPerTick + DeletePerTick).toArray.map(distractors(_))
    val reup = pick.take(ReupsertPerTick).toSeq.map(id => (id, m.fresh()._2))
    val del = pick.drop(ReupsertPerTick).toSeq
    // latest-wins probe: move one query's farthest copy to 0.5°, so a
    // store serving the superseded vector ranks the wrong top-k
    val qm = tick % Queries
    val moved = Some(m.plantedId(qm, Copies)).filter(m.live.contains)
      .map(id => (id, m.near(qm, 0.5))).toSeq
    // tombstone probe: delete one query's nearest original copy while it
    // keeps at least K others
    val qd = (tick + 7) % Queries
    val plantedLive = (1 to Copies).map(m.plantedId(qd, _)).filter(m.live.contains)
    val delPlanted = Some(m.plantedId(qd, 1))
      .filter(id => m.live.contains(id) && plantedLive.size > K).toSeq
    val ups = fresh ++ reup ++ moved
    ups.foreach { case (id, v) => m.live(id) = v }
    (del ++ delPlanted).foreach { id => m.live.remove(id); m.deleted += id }
    TickOps(ups, del ++ delPlanted)
  }

  /** Search output check: equal to brute force on every planted query,
    * and never a tombstoned id. */
  private def checkSearch(ctx: Ctx, kind: String, m: VectorModel, rows: Array[Row]): Unit = {
    val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val wrong = m.queries.indices.count(q => !got.get(m.queries(q)._1).contains(m.topK(q)))
    ctx.report.check(wrong == 0, s"$kind search differs from brute force on $wrong queries")
    val ghosts = rows.count(r => m.deleted.contains(r.getLong(1)))
    ctx.report.check(ghosts == 0, s"$kind search returned $ghosts tombstoned ids")
  }

  final class Rig(val dir: Path, val model: VectorModel, seed: Long) {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    def store(k: Kind): String = dir.resolve(k.name).toString
  }

  /** A few hundred vectors through every call of every store kind. */
  def train(ctx: Ctx): Unit = {
    val m = new VectorModel(1L)
    val rows = Seq.fill(300)(m.fresh())
    val df = vectors(ctx.spark, rows)
    val q = vectors(ctx.spark, m.queries.map { case (id, v) => (id, v.map(_.toFloat)) })
    val ids = ctx.spark.createDataFrame(Seq(Row(1L)).asJava,
      StructType(Seq(StructField("vec_id", LongType))))
    kinds(ctx.spark).foreach { k =>
      val d = ctx.work.resolve(s"train-${k.name}").toString
      k.upsert(df, d); k.delete(ids, d); k.search(q, d).collect(); k.compact(d)
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val ks = kinds(spark)
    val r = ctx.report
    val upsertNs = mutable.Map.empty[String, Long]
    val searchS, tickS, tickCpu = mutable.ArrayBuffer.empty[Double]
    var upserted = 0L
    def tick(rig: Rig, t: Int, timed: Boolean, compacts: Set[String]): Unit = {
      ctx.log(s"tick $t")
      val ops = nextOps(rig.model, t, rig.rnd)
      val batch = vectors(spark, ops.upserts).cache()
      batch.count()
      val dels = spark.createDataFrame(ops.deletes.map(Row(_)).asJava,
        StructType(Seq(StructField("vec_id", LongType)))).cache()
      dels.count()
      val queries = vectors(spark, rig.model.queries.map { case (id, v) => (id, v.map(_.toFloat)) })
      ks.foreach { k =>
        val d = rig.store(k)
        val t0 = System.nanoTime()
        val ok = scala.util.Try {
          ctx.trace.span(s"streaming.${k.name}.upsert")(k.upsert(batch, d))
          val t1 = System.nanoTime()
          ctx.trace.span(s"streaming.${k.name}.delete")(k.delete(dels, d))
          val t2 = System.nanoTime()
          val rows = ctx.trace.span(s"streaming.${k.name}.search") {
            k.search(queries, d).select("query_id", "neighbor_id").collect()
          }
          val t3 = System.nanoTime()
          if (compacts.contains(k.name))
            ctx.trace.span(s"streaming.${k.name}.compact")(k.compact(d))
          if (timed) {
            upsertNs(k.name) = upsertNs.getOrElse(k.name, 0L) + (t1 - t0)
            searchS += (t3 - t2) / 1e9
          }
          checkSearch(ctx, k.name, rig.model, rows)
          ctx.log(f"${k.name}: upsert ${(t1 - t0) / 1e9}%.2f delete ${(t2 - t1) / 1e9}%.2f " +
            f"search ${(t3 - t2) / 1e9}%.2f compact ${(System.nanoTime() - t3) / 1e9}%.2f")
        }
        r.op(ok.isSuccess, s"${k.name} tick $t failed: ${ok.failed.map(_.toString).getOrElse("")}")
        if (timed) upserted += ops.upserts.size
      }
      batch.unpersist(); dels.unpersist()
    }

    val rig = ctx.setupRepeated(SetupReps) { i =>
      val model = new VectorModel(ctx.seed)
      val base = Seq.fill(BaseVectors)(model.fresh()) ++
        (0 until Queries).flatMap(q => (1 to Copies).map(c => (model.plantedId(q, c), model.near(q, c))))
      base.foreach { case (id, v) => model.live(id) = v }
      val rig = new Rig(ctx.work.resolve(s"vectors-$i"), model, ctx.seed)
      val corpus = vectors(spark, base).cache()
      corpus.count()
      ks.foreach(k => k.upsert(corpus, rig.store(k)))
      corpus.unpersist()
      rig
    }(rig => Main.deleteTree(rig.dir))
    tick(rig, 0, timed = false, compacts = Set.empty) // warm-up

    ctx.trace.spans.clear()
    val t0 = System.nanoTime()
    var t = 1
    var last = 0L
    // the last tick starts only if half of it fits in the window
    while (t == 1 || System.nanoTime() - t0 + last / 2 < ctx.seconds * 1e9) {
      val s = System.nanoTime()
      val c0 = Main.cpuNs()
      // one store compacts per tick, in a fixed rotation: which store
      // holds the old generation changes the bytes on disk
      tick(rig, t, timed = true, compacts = Set(ks(t % ks.size).name))
      last = System.nanoTime() - s
      tickS += last / 1e9
      tickCpu += (Main.cpuNs() - c0) / 1e9
      t += 1
    }
    val heap = ctx.heapLiveMb()
    r.e2e("tick_cpu_s", Stats.median(tickCpu.toSeq), "s")
    r.info("tick_p50_s", Stats.median(tickS.toSeq))
    r.info("upsert_rows_per_s", Some(upserted / (upsertNs.values.sum / 1e9)))
    // one call per kind per tick: too few, and too mixed, for a tail
    // quantile; the per-kind latencies are the traced search spans
    r.info("search_p50_s", Stats.median(searchS.toSeq))
    r.e2e("disk_bytes_per_row", Some(
      ks.map(k => Main.treeBytes(rig.dir.resolve(k.name))).sum.toDouble /
        (ks.size * rig.model.live.size)), "B/row")
    r.e2e("heap_live_mb", Some(heap), "MB")
    if (ctx.trace.enabled)
      ctx.trace.metrics.foreach { case (n, v, u) => r.layer(n, Some(v), u) }
    Main.deleteTree(rig.dir)
  }
}

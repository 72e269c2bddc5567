package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Stats {
  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * method); None on no samples. */
  def quantile(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      Some(s(lo) + (s(hi) - s(lo)) * (pos - lo))
    }
  def median(xs: Seq[Double]): Option[Double] = quantile(xs, 0.5)
}

/** Totals of one named span over all its calls. */
final class SpanAcc {
  var calls, jobs, tasks, failed = 0L
  var wallNs, gapMs, execMs, planningMs = 0L
  var rowsRead, shuffleBytes, spillBytes, bytesWritten = 0L
}

/** Per-layer attribution from outside the engine: a SparkListener (jobs,
  * tasks, executor time, rows read, shuffle and spill bytes), a
  * QueryExecutionListener (planning phases) and the Hadoop FileSystem
  * statistics (bytes written). The benchmark's main thread runs one
  * span at a time and the listener bus is drained at each span's start
  * and end, so every event delivered while a span is open belongs to it.
  *
  * Disabled (`--trace 0`), `span` only runs its body: no listener is
  * registered and no drain is paid. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.LinkedHashMap.empty[String, SpanAcc]
  /** Seconds spent draining the listener bus — the tracer's own cost. */
  var flushNs = 0L

  @volatile private var cur: SpanAcc = null
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, SpanAcc]()
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val a = cur
      if (a != null) {
        a.jobs += 1
        jobStartMs(e.jobId) = e.time
        e.stageIds.foreach(s => stageOwner.put(s, a))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStartMs.remove(e.jobId).foreach { t0 =>
        intervals += ((t0, e.time))
        e.jobResult match {
          case JobSucceeded =>
          case _ => if (cur != null) cur.failed += 1
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val a = stageOwner.get(e.stageId)
      val m = e.taskMetrics
      if (a != null && m != null) {
        a.tasks += 1
        a.execMs += m.executorRunTime
        a.rowsRead += m.inputMetrics.recordsRead
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit = planning(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = planning(qe)
    private def planning(qe: QueryExecution): Unit = Trace.this.synchronized {
      val a = cur
      if (a != null) a.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def flush(): Unit = {
    val t0 = System.nanoTime()
    org.apache.spark.graftbench.Bus.flush(spark.sparkContext)
    flushNs += System.nanoTime() - t0
  }

  private def fsBytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum
  }

  /** Run `body` as one call of span `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      flush()
      val a = spans.getOrElseUpdate(name, new SpanAcc)
      synchronized { intervals.clear(); cur = a }
      val w0 = fsBytesWritten()
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        val wallNs = System.nanoTime() - n0
        val t1 = System.currentTimeMillis()
        flush()
        synchronized {
          cur = null
          a.calls += 1
          if (!ok) a.failed += 1
          a.wallNs += wallNs
          a.gapMs += math.max(0L, (t1 - t0) - unionMs(intervals.toSeq, t0, t1))
          a.bytesWritten += fsBytesWritten() - w0
          stageOwner.clear()
        }
      }
    }

  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s >= end) { total += e - s; end = e }
        else if (e > end) { total += e - end; end = e }
      }
    total
  }

  /** The per-call measures of every span that ran. */
  def metrics: Seq[(String, Double, String)] =
    spans.toSeq.flatMap { case (name, a) =>
      val n = math.max(1L, a.calls).toDouble
      val all = Map(
        "calls" -> a.calls.toDouble,
        "busy_s" -> a.wallNs / 1e9 / n,
        "jobs" -> a.jobs / n,
        "tasks" -> a.tasks / n,
        "exec_s" -> a.execMs / 1e3 / n,
        "gap_s" -> a.gapMs / 1e3 / n,
        "planning_s" -> a.planningMs / 1e3 / n,
        "rows_read" -> a.rowsRead / n,
        "shuffle_bytes" -> a.shuffleBytes / n,
        "spill_bytes" -> a.spillBytes / n,
        "bytes_written" -> a.bytesWritten / n,
        "failed" -> a.failed.toDouble)
      Trace.measuresOf(name).map(m => (s"$name.$m", all(m), Trace.Units(m)))
    }
}

object Trace {
  val Full = Seq("calls", "busy_s", "jobs", "tasks", "exec_s", "gap_s", "planning_s",
    "rows_read", "shuffle_bytes", "spill_bytes", "bytes_written", "failed")
  val StoreReadWrite = Seq("busy_s", "jobs", "exec_s", "gap_s", "rows_read", "bytes_written")
  val StoreMaintenance = Seq("busy_s", "bytes_written")
  val Units = Map("calls" -> "count", "busy_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "exec_s" -> "s", "gap_s" -> "s", "planning_s" -> "s", "rows_read" -> "rows",
    "shuffle_bytes" -> "B", "spill_bytes" -> "B", "bytes_written" -> "B", "failed" -> "count")

  /** Which measures each span reports. */
  def measuresOf(span: String): Seq[String] = span.split('.').last match {
    case "upsert" | "search" => StoreReadWrite
    case "delete" | "compact" => StoreMaintenance
    case _ => Full
  }

  val DealSpans = Seq("streaming.observe", "state.resolve", "state.submit")
  val StoreSpans = for {
    k <- Seq("ann", "ivf", "ivfpq", "ivfsq")
    op <- Seq("upsert", "search", "delete", "compact")
  } yield s"streaming.$k.$op"

  /** The gauges, after the spans. */
  val Gauges = Seq(
    "sources.pix.calls" -> "count", "sources.pix.p50_ms" -> "ms", "sources.pix.retried" -> "count",
    "sources.pix.failed" -> "count", "sources.pix.hit_ratio" -> "ratio",
    "sources.rpc.calls" -> "count", "sources.rpc.p50_ms" -> "ms", "sources.rpc.failed" -> "count",
    "sources.post.calls" -> "count", "sources.post.p50_ms" -> "ms", "sources.post.failed" -> "count",
    "state.chain_depth_max" -> "count", "state.compactions" -> "count",
    "state.queue_per_tick" -> "deals", "ingest.dup_share" -> "ratio",
    "codec.decode_yield" -> "ratio", "sources.event_files" -> "count",
    "bench.gen_late_s" -> "s", "bench.trace_flush_s" -> "s", "bench.failed_share" -> "ratio")

  /** Every per-layer metric a traced run prints, in order, with its unit.
    * A workload that never enters a layer reports that layer's metrics
    * as 0: vector-store spans on the deal workloads, deal spans and
    * transports on `vector_store`. */
  val All: Seq[(String, String)] =
    (DealSpans ++ StoreSpans).flatMap(s => measuresOf(s).map(m => (s"$s.$m", Units(m)))) ++ Gauges
}

package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one run reports: end-to-end metrics (`--trace 0`), per-layer
  * metrics (`--trace 1`), workload-specific detail that goes into the
  * ungated context line, and the operation ledger behind `failed`. */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }
  /** An output check: a failed operation when it does not hold. */
  def check(ok: Boolean, what: => String): Unit = op(ok, s"check failed: $what")

  def e2e(name: String, v: Option[Double], unit: String): Unit =
    v.foreach(x => endToEnd(name) = (x, unit))
  def layer(name: String, v: Option[Double], unit: String): Unit =
    v.foreach(x => perLayer(name) = (x, unit))
  def info(name: String, v: Option[Double]): Unit = v.foreach(x => detail(name) = x)

  /** Every per-layer metric in `Trace.All` order, 0 for a layer the
    * workload did not enter. */
  def allLayers: Seq[(String, (Double, String))] =
    Trace.All.map { case (n, u) => n -> perLayer.getOrElse(n, (0.0, u)) }
}

/** Shared state of one benchmark process. */
final class Ctx(
    val spark: SparkSession, val root: Path, val work: Path, val seed: Long,
    val seconds: Double, val trace: Trace, val report: Report) {
  lazy val fixture: Fixture = Fixture.load(root.toString)
  private val born = System.nanoTime()
  /** `graft.Canary` cpu sample taken when set-up ends: host-contention
    * context for the run, not gated. */
  var canaryBeforeS = Double.NaN

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - born) / 1e9}%7.2f] $msg")

  /** Set up `reps` times and keep the last; `setup_s` is the median.
    * Then stamp the cpu canary: Spark is warm by now, so it costs a
    * fraction of a cold first sample. */
  def setupRepeated[T](reps: Int)(setup: Int => T)(discard: T => Unit): T = {
    var last: Option[T] = None
    val times = (0 until reps).map { i =>
      last.foreach(discard)
      val t0 = System.nanoTime()
      last = Some(setup(i))
      val s = (System.nanoTime() - t0) / 1e9
      log(f"setup $i: $s%.2f s")
      s
    }
    report.e2e("setup_s", Stats.median(times), "s")
    canaryBeforeS = graft.Canary.cpuOnce(spark)
    log(s"cpu canary before: $canaryBeforeS")
    last.get
  }

  /** Live heap in MB: what the heap pools hold right after a full GC.
    * Spark's ContextCleaner drops broadcast and shuffle blocks
    * asynchronously once a GC has found them unreachable, so collect
    * until two readings agree. */
  def heapLiveMb(): Double = {
    import scala.jdk.CollectionConverters._
    def afterGc(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
        .map(_.getCollectionUsage.getUsed).sum / 1048576.0
    }
    var last = afterGc()
    var tries = 0
    var settled = false
    while (!settled && tries < 8) {
      Thread.sleep(250)
      val now = afterGc()
      settled = math.abs(now - last) < 1.0
      last = now
      tries += 1
    }
    last
  }
}

object Main {
  val Workloads = Seq("tail", "catchup", "vector_store")

  private def usage(msg: String): Nothing = {
    System.err.println(s"$msg\nusage: graftbench.Main --workload ${Workloads.mkString("|")} " +
      "--seed N --seconds S --trace 0|1")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    val workload = opts.getOrElse("workload", usage("--workload is required"))
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = opts.get("seed").map(_.toLong).getOrElse(1L)
    val seconds = opts.get("seconds").map(_.toDouble).getOrElse(10.0)
    val traced = opts.get("trace").contains("1")
    val cores = sys.env.getOrElse("GRAFTBENCH_CORES",
      Runtime.getRuntime.availableProcessors().toString).toInt

    val root = Paths.get("").toAbsolutePath
    val work = buildDir(root).resolve(s"work/$workload-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val spark = session(root, cores)
    val report = new Report
    val ctx = new Ctx(spark, root, work, seed, seconds, new Trace(spark, traced), report)
    var code = 1
    try {
      workload match {
        case "tail" => DealWorkloads.tail(ctx)
        case "catchup" => DealWorkloads.catchup(ctx)
        case "vector_store" => VectorWorkload.run(ctx)
      }
      // host-contention context, not gated
      val cpuAfter = graft.Canary.cpuOnce(spark)
      ctx.log(s"cpu canary after: $cpuAfter")
      if (traced) {
        report.layer("bench.trace_flush_s", Some(ctx.trace.flushNs / 1e9), "s")
        report.layer("bench.failed_share",
          Some(report.failed.toDouble / math.max(1L, report.attempted)), "ratio")
      }
      report.failures.foreach(f => System.err.println(s"[graftbench] $f"))
      val correct = report.failed == 0
      val metrics = if (traced) report.allLayers else report.endToEnd.toSeq
      // a traced run's end-to-end figures, against an untraced run's,
      // give the tracing overhead
      val context = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> seed,
        "cores" -> cores, "canary_cpu_before_s" -> ctx.canaryBeforeS, "canary_cpu_after_s" -> cpuAfter,
        "detail" -> report.detail)
      if (traced) context("end_to_end") = report.endToEnd.map { case (k, (v, _)) => k -> v }
      println(json(Map("context" -> context)))
      println(json(mutable.LinkedHashMap[String, Any](
        "correct" -> correct, "attempted" -> report.attempted, "failed" -> report.failed,
        "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, (v, u)) =>
          k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }: _*))))
      code = if (correct) 0 else 1
    } catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] run aborted: $e")
        e.printStackTrace()
    } finally {
      spark.stop()
      deleteTree(work)
      ctx.log("stopped")
    }
    sys.exit(code)
  }

  /** CPU time of every thread of this process, in ns. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def buildDir(root: Path): Path =
    root.resolve(sys.env.getOrElse("CARGO_TARGET_DIR", ".bench_build"))

  /** The session `DealObserverApp.main` builds, with checkout-local dirs. */
  def session(root: Path, cores: Int): SparkSession = {
    val build = buildDir(root)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", build.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", build.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(spark)
    spark
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** Bytes of every regular file under `p`. */
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def json(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => "\"" + k + "\":" + json(x) }.mkString("{", ",", "}")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => "\"" + other + "\""
  }
}

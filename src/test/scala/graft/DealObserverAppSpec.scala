package graft

import graft.streaming.MetricsSink
import org.apache.spark.sql.functions.col

/** `DealObserverApp.main`'s tick: each loop runs in its own `Try`. */
class DealObserverAppSpec extends SparkSpec {

  test("a loop that throws is recorded as failed and the tick goes on") {
    val root = java.nio.file.Files.createTempDirectory("app-tick").toString
    val cfg = DealObserverApp.Config(s"$root/events", s"$root/head.json",
      s"$root/store", s"$root/ckpt")
    val now = java.sql.Timestamp.valueOf("2025-06-15 00:00:00")
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    def loops(tick: Int): Seq[(String, () => Unit)] = Seq(
      "observe" -> (() => ran += s"observe $tick"),
      "resolve" -> (() =>
        if (tick == 0) throw new IllegalStateException("resolve down") else ran += s"resolve $tick"),
      "submit" -> (() => ran += s"submit $tick"))
    assert(DealObserverApp.runTick(spark, cfg, now, loops(0)) == Seq("resolve"))
    assert(DealObserverApp.runTick(spark, cfg, now, loops(1)).isEmpty)
    assert(ran == Seq("observe 0", "submit 0", "observe 1", "resolve 1", "submit 1"))
    val failed = new MetricsSink(spark, cfg.metricsRoot).table()
      .filter(col("metric") === "failed").select("loop", "value").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(failed == Seq("resolve" -> 1L), "one point, only on the failure path")
  }
}

package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Telemetry sink (S12). The reference pushes InfluxDB points per loop
  * tick — measurement name + fields, ms precision, periodic flush
  * (backend/lib/telemetry.js:10-39; recorded by all three loops, e.g.
  * deal-observer.js's `last_searched_epoch`).
  *
  * Spark restatement: metrics are a TABLE, not a push client — an
  * append-only parquet of (ts, loop, metric, value) points partitioned
  * by day, plus a [[StreamingQueryListener]] bridging engine progress
  * events (rows/batch, duration) into the same table. At 100 TB a
  * metrics table beats an external push: it is written by the same
  * committed batch that produced the numbers (no drift), joins directly
  * with the data it describes, and day partitions would let a
  * retention sweep delete whole days. No retention sweep or day fold
  * exists yet (ROADMAP directions 2 and 5): the table only grows.
  */
final class MetricsSink(spark: SparkSession, root: String) {

  /** Record one point: a named counter set for a loop tick (the
    * reference's `recordTelemetry(name, p => p.intField(...))`).
    *
    * File-count note: one small file per tick ≈ 8.6k files/day/loop at
    * a 10 s cadence. Day partitioning keeps reads pruned; nothing folds
    * closed days or sweeps old ones yet, so the file count grows with
    * every tick (ROADMAP directions 2 and 5). */
  def record(loop: String, counters: Map[String, Long],
      ts: Timestamp = new Timestamp(System.currentTimeMillis())): Unit = {
    if (counters.isEmpty) return
    import spark.implicits._
    counters.toSeq.toDF("metric", "value")
      .withColumn("ts", lit(ts))
      .withColumn("loop", lit(loop))
      .withColumn("day", to_date(col("ts")))
      .select("ts", "loop", "metric", "value", "day")
      .coalesce(1) // a tick's counters are a handful of rows — one file
      .write.mode("append").partitionBy("day").parquet(root)
  }

  /** Adapter for the iterative graph loops' `(round, value)` hooks
    * ([[graft.ops.ConnectedComponents.connectedComponents]]'s `onRound`
    * edge gauge, [[graft.ops.PageRank.pageRank]]'s `onCheckpoint`
    * heartbeat): one metrics point per round, so a stalling 100 TB
    * contraction is visible in the table, not just in the scheduler
    * UI. */
  def roundHook(loop: String, valueName: String = "edges"): (Int, Long) => Unit =
    (round, value) => record(loop, Map("round" -> round.toLong, valueName -> value))

  /** Adapter for the pair generators' hot-bucket drop reports
    * ([[graft.ops.Dedup.simhashPairs]]/[[graft.ops.Dedup.embeddingNearDupPairs]]'s
    * `onDrop`, [[graft.ops.SimilaritySearch.semanticNearDupPairs]]'s):
    * one metrics point per sweep recording how many buckets/members
    * the enforced cap excluded — the recall cost of the cap is in the
    * table, not just in a monitor query someone has to remember to
    * run. */
  def dropHook(loop: String): (Long, Long) => Unit =
    (buckets, members) => record(loop,
      Map("hot_buckets_dropped" -> buckets, "hot_members_dropped" -> members))

  /** The metrics table (empty-schema DataFrame when nothing recorded).
    *
    * Always reads with the FIXED schema, never inference: a concurrent
    * first [[record]] can have created the directory without a committed
    * footer yet, and schema inference over zero readable footers throws
    * `UNABLE_TO_INFER_SCHEMA`. With the explicit schema, empty-dir,
    * dir-with-in-flight-write, and populated-dir all return the same
    * shape — the read is race-free against writers. */
  def table(): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(MetricsSink.schema).parquet(root)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], MetricsSink.schema)
  }

  /** Engine-level bridge: one point per finished micro-batch with the
    * progress counters every streaming loop shares. Register with
    * `spark.streams.addListener(sink.progressListener())`. */
  def progressListener(): StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      record(
        loop = Option(p.name).getOrElse("unnamed"),
        counters = Map(
          "batchId" -> p.batchId,
          "numInputRows" -> p.numInputRows,
          "durationMs" -> p.durationMs.values().asScala.map(_.longValue()).sum))
    }
  }
}

object MetricsSink {
  import org.apache.spark.sql.types._
  /** The one metrics-table schema, shared by writer, reader, and the
    * empty case (the `day` partition column resolves by name against
    * the directory layout). */
  val schema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("loop", StringType),
    StructField("metric", StringType),
    StructField("value", LongType),
    StructField("day", DateType)))
}

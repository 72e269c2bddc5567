package graft.streaming

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * metrics table beats an external push: it is written by the loop that
  * produced the numbers, right after its committed write (no drift),
  * joins directly with the data it describes, and day partitions would
  * let a retention sweep delete whole days. A point is a handful of
  * rows, so it is written on the driver, not by a Spark job: the loops'
  * ticks pay no job, committer or plan for their telemetry. No
  * retention sweep or day fold exists yet (ROADMAP directions 2 and
  * 5): the table only grows.
  */
final class MetricsSink(spark: SparkSession, root: String) {

  /** Record one point: a named counter set for a loop tick (the
    * reference's `recordTelemetry(name, p => p.intField(...))`).
    *
    * One parquet file in `day=<ts's date in the session time zone>`
    * (the `to_date(ts)` a Spark write would partition by), written on
    * the driver with parquet-mr under a hidden `.`-prefixed name that
    * readers skip, then renamed into view: zero Spark jobs, and a
    * reader never lists a half-written file. `ts` is INT64 microseconds
    * (UTC-adjusted); files an older Spark write left (INT96 `ts`) read
    * through the same [[table]].
    *
    * File-count note: one small file per tick ≈ 8.6k files/day/loop at
    * a 10 s cadence. Day partitioning keeps reads pruned; nothing folds
    * closed days or sweeps old ones yet, so the file count grows with
    * every tick (ROADMAP directions 2 and 5). */
  def record(loop: String, counters: Map[String, Long],
      ts: Timestamp = new Timestamp(System.currentTimeMillis())): Unit = {
    if (counters.isEmpty) return
    val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
      spark.conf.get("spark.sql.session.timeZone"))
    val dayDir = new Path(root, s"day=${ts.toInstant.atZone(zone).toLocalDate}")
    val name = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
    val hidden = new Path(dayDir, s".$name")
    val micros = java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, ts.toInstant)
    StoreCommits.writeLocalParquet(spark, hidden, MetricsSink.FileSchema, counters) {
      case (g, (metric, value)) =>
        g.add("ts", micros)
        g.add("loop", loop)
        g.add("metric", metric)
        g.add("value", value)
    }
    val fs = dayDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.rename(hidden, new Path(dayDir, name)))
      throw new java.io.IOException(s"could not publish metrics file $hidden as $name")
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
    * first [[record]] can have created a day directory that holds only
    * its hidden in-flight file, and schema inference over zero readable
    * footers throws `UNABLE_TO_INFER_SCHEMA`. With the explicit schema,
    * empty-dir, dir-with-in-flight-write, and populated-dir all return
    * the same shape — the read is race-free against writers. */
  def table(): DataFrame = {
    val p = new Path(root)
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

  /** The parquet message type of one [[MetricsSink.record]] file (the
    * `day` column is the directory). */
  private val FileSchema =
    """message metrics {
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required binary loop (STRING);
      |  required binary metric (STRING);
      |  required int64 value;
      |}""".stripMargin
}

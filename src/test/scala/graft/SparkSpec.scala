package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The golden fixtures of this checkout: the test classpath's copy, or,
    * when the classpath holds the packaged tests jar (a forked
    * `Test/runMain`), the source tree under the working directory, which
    * sbt sets to the project root. Spark reads them by path, so never
    * from inside a jar. */
  val fixtures: String = {
    val url = getClass.getResource("/fixtures/rawActorEvents.json")
    if (url.getProtocol == "file") new java.io.File(url.toURI).getParent
    else new java.io.File("src/test/resources/fixtures").getAbsolutePath
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The Spark jobs `f` starts, on this thread and the threads it
    * starts (a streaming query's, a broadcast's): a listener counts the
    * jobs tagged with a fresh local property, and a sentinel job makes
    * the count exact — the listener bus delivers in order, so once the
    * sentinel's start arrives every job of `f` has. */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.span"
    val span = java.util.UUID.randomUUID().toString
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(key)).foreach { v =>
          if (v == span) counted.incrementAndGet()
          else if (v == s"$span-end") seen.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, span)
      try f finally sc.setLocalProperty(key, s"$span-end")
      sc.parallelize(Seq(1), 1).count()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      counted.get()
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

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
}

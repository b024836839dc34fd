package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for e2e suites. */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  @transient lazy val spark: SparkSession = SparkFixture.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Recursive delete that unlinks symlinks instead of following them;
    * see [[graft.ScalingLevel.rmrf]]. */
  def rmrf(path: String): Unit = graft.ScalingLevel.rmrf(path)
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

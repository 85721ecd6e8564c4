package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; mirrors the Verify/Bench session
  * configuration (UTC, AQE, nanos-as-long, graft function registry). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.expressions.GraftFunctions.register(s)
    s
  }

  val sf = "/root/testdata/sf0.001"

  /** Runs `body` on a fresh temporary directory and deletes the directory
    * afterwards, whether or not `body` throws. */
  def withTempDir[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-")
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}

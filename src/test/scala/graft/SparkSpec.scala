package graft

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole forked test JVM (suites run
  * sequentially and `getOrCreate` would silently reuse the first
  * session anyway — sharing it deliberately keeps warehouse/config
  * deterministic). */
object TestSession {
  /** A fresh `tag`-prefixed dir under this JVM's scratch root
    * ([[graft.queries.JvmScratch]]), removed with the root when the JVM
    * exits, so a test run leaves nothing behind. */
  def tempDir(tag: String): Path = Paths.get(graft.queries.JvmScratch.dir(tag))

  lazy val warehouse: String = tempDir("test_wh").toString

  lazy val spark: SparkSession = SparkSession.builder()
      .withExtensions(new graft.functions.expr.GraftExtensions)
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", warehouse)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Shared fixture: local session, tmp warehouse, test-data locations. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Smallest star-schema test data (driver-generated). */
  val sfDir = "/root/testdata/sf0.001"
  /** The reference repo's own sample files (read-only). */
  val refDataDir = "/root/reference/amazon-sales-data"

  /** Cancels a reference-golden leg where the reference files are absent;
    * the generated [[MedallionFixture]] legs cover the same contracts. */
  def assumeReference(): Unit =
    assume(new java.io.File(refDataDir).isDirectory, "reference data not present")

  /** [[TestSession.tempDir]]. */
  def tempDir(tag: String): Path = TestSession.tempDir(tag)
}

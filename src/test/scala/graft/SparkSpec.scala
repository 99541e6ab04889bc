package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (sbt runs suites sequentially in the
  * forked test JVM; getOrCreate reuses one session). Pinned to 4 cores so
  * the suites run the same partitioning on every host. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4, Map(
    "spark.sql.warehouse.dir" ->
      s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse"))

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  val sf0001 = "/root/testdata/sf0.001"
}

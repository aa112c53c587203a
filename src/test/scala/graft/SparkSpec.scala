package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      // One task slot per core of the host running the suite
      // (SPARK_GRAFT_CPUS, else the host's cores — [[GraftSession.cpus]]).
      // shuffle.partitions stays 4 whatever the width, so every
      // partition-count-sensitive assertion is host-independent.
      .master(s"local[${GraftSession.cpus}]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", // static conf: set before build
        java.nio.file.Files.createTempDirectory("graft_wh_").toFile.getAbsolutePath)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // mm_decode_features' oracle prefix-hash CTE recurses one level
      // per character of the longest document — far past the 100
      // default (SqlSurfaceSpec runs it verbatim).
      .config("spark.sql.cteRecursionLevelLimit", "4096")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

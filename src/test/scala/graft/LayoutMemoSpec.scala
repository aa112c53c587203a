package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

/** Layout's process-lifetime memo must give every corpus dir its own
  * table: two dirs whose names share a 32-bit String.hashCode ("Aa" and
  * "BB" do) once named one table, so the second corpus overwrote the
  * first and the first's memo entry then served the second's rows. */
class LayoutMemoSpec extends SparkSpec {
  import spark.implicits._

  test("corpus dirs with colliding name hashes each read back their own layout rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_layout_memo_").toString
    val (a, b) = (s"$root/Aa", s"$root/BB")
    assert(a.hashCode == b.hashCode, "the fixture needs colliding dir hashes")
    val rows = Map(a -> Seq(1L, 2L), b -> Seq(30L, 40L, 50L))
    rows.foreach { case (d, ks) =>
      ks.toDF("k").withColumn("m", (col("k") % 2).cast("int")).write.parquet(d)
    }
    def bucketed(d: String): Seq[Long] =
      Layout.bucketedTable(spark, d, "memo_spec", spark.read.parquet(d), "k")
        .select("k").as[Long].collect().toSeq.sorted
    def partitioned(d: String): Seq[Long] =
      spark.read.parquet(Layout.partitionedLayout(d, "memo_spec", spark.read.parquet(d), "m"))
        .select("k").as[Long].collect().toSeq.sorted
    // write both layouts of both corpora first, then read each back
    Seq(a, b).foreach { d => bucketed(d); partitioned(d) }
    Seq(a, b).foreach { d =>
      assert(bucketed(d) == rows(d), s"bucketedTable($d)")
      assert(partitioned(d) == rows(d), s"partitionedLayout($d)")
    }
  }
}

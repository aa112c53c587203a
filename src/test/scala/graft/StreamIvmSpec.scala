package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streaming

case class SOrder(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)

/** Streaming materialized-join maintenance (`Streaming.ivmJoinBatch`) —
  * the stream twin of q90's delta-join algebra: the per-batch maintained
  * view must equal the one-shot join at ANY batch split, replays must be
  * idempotent, and a dim update between batches must bind with
  * arrival-time consistency.
  */
class StreamIvmSpec extends SparkSpec {
  import spark.implicits._

  private def orders(): Seq[SOrder] =
    Tables(spark, Sf0001, "orders").as[SOrder].collect().toSeq

  private def writeDim(dir: String): Unit =
    Tables(spark, Sf0001, "customer").write.mode("overwrite").parquet(dir)

  private def oneShot() =
    Tables(spark, Sf0001, "orders")
      .select(col("o_custkey"), graft.Qh.cents(col("o_totalprice")).as("v"))
      .join(Tables(spark, Sf0001, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")), Seq("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("maintained view ≡ one-shot join at one-batch AND three-batch splits") {
    val all = orders()
    val expected = oneShot()
    for ((split, tag) <- Seq(all.length -> "one-batch", all.length / 3 -> "three-batch")) {
      val root = Files.createTempDirectory(s"graft_ivm_$tag").toFile.getAbsolutePath
      writeDim(s"$root/dim")
      val ms = MemoryStream[SOrder](spark)
      all.grouped(split).foreach(g => ms.addData(g))
      val q = Streaming.batchLane(ms.toDF(), s"$root/ckpt", Trigger.AvailableNow())(
        Streaming.ivmJoinBatch(_, s"$root/dim", s"$root/view", _)).start()
      q.awaitTermination()
      val got = Streaming.ivmJoinView(spark, s"$root/view")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == expected, s"$tag: view must equal the one-shot join")
    }
  }

  test("replaying a batch overwrites its partition — view unchanged") {
    val all = orders()
    val root = Files.createTempDirectory("graft_ivm_rp").toFile.getAbsolutePath
    writeDim(s"$root/dim")
    val ms = MemoryStream[SOrder](spark)
    ms.addData(all)
    val q = Streaming.batchLane(ms.toDF(), s"$root/ckpt", Trigger.AvailableNow())(
      Streaming.ivmJoinBatch(_, s"$root/dim", s"$root/view", _)).start()
    q.awaitTermination()
    val before = Streaming.ivmJoinView(spark, s"$root/view")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // checkpoint-recovery replay: batch 0 re-delivered with the same id
    Streaming.ivmJoinBatch(all.toDF(), s"$root/dim", s"$root/view", 0L)
    val after = Streaming.ivmJoinView(spark, s"$root/view")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(after == before, "replay must be idempotent")
    assert(before == oneShot())
  }

  test("a dim update between batches binds with arrival-time consistency") {
    val root = Files.createTempDirectory("graft_ivm_scd").toFile.getAbsolutePath
    // dim v1: customer 1 in segment OLD; v2 moves them to NEW.
    Seq((1L, "c1", 0, 0.0, "OLD"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$root/dim")
    def ord(k: Long) = Seq((k, 1L, 10.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    Streaming.ivmJoinBatch(ord(1L), s"$root/dim", s"$root/view", 0L)
    Seq((1L, "c1", 0, 0.0, "NEW"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$root/dim")
    Streaming.ivmJoinBatch(ord(2L), s"$root/dim", s"$root/view", 1L)
    val got = Streaming.ivmJoinView(spark, s"$root/view")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("OLD" -> ((1L, 1000L)), "NEW" -> ((1L, 1000L))),
      s"each fact must carry the dim as of its own batch: $got")
  }
}

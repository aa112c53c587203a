package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Top-level for Encoder derivation (the [[CEvent]] precedent; user_id
  * non-null here — sketch ingest assumes gated input). */
case class SEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Streaming HLL sketch maintenance ([[Streaming.sketchBatch]]): the
  * ingest half of q61 — daily states appended per batch, any window
  * answered by a cheap union, batch-boundary-invariant, replay-safe. */
class SketchIngestSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(): Seq[SEvent] =
    Tables(spark, Sf0001, "events")
      .select(col("event_id"), col("ts"), col("user_id").cast("long").as("user_id"),
        col("event_type"), col("value"))
      .as[SEvent].collect().toSeq

  test("streamed daily sketches union to per-type estimates within 5% of exact — at any batch split") {
    val all = fixture()
    val exact = Tables(spark, Sf0001, "events")
      .groupBy("event_type").agg(countDistinct("user_id").as("exact"))
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("exact")).toMap

    for ((split, tag) <- Seq(all.length -> "one-batch", all.length / 3 -> "three-batch")) {
      val root = Files.createTempDirectory(s"graft_sketch_$tag").toFile.getAbsolutePath
      val ms = MemoryStream[SEvent](spark)
      all.grouped(split).foreach(g => ms.addData(g))
      val q = Streaming.batchLane(ms.toDF(), s"$root/ckpt", Trigger.AvailableNow())(
        Streaming.sketchBatch(_, s"$root/sk", _)).start()
      q.awaitTermination()
      val est = Streaming.sketchTotals(spark, s"$root/sk").collect()
        .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("approx_users")).toMap
      assert(est.keySet == exact.keySet, s"$tag: type set mismatch")
      est.foreach { case (t, e) =>
        assert(math.abs(e - exact(t)).toDouble <= 0.05 * exact(t) + 1,
          s"$tag: $t estimate $e vs exact ${exact(t)}")
      }
      // exact side-channel: event counts are lossless
      val nEvents = Streaming.sketchTotals(spark, s"$root/sk")
        .agg(sum("n_events")).head.getLong(0)
      assert(nEvents == all.length.toLong, s"$tag: event counts must be exact")
    }
  }

  test("replaying a batch rewrites its sketch partition — totals unchanged") {
    val all = fixture()
    val root = Files.createTempDirectory("graft_sketch_rp").toFile.getAbsolutePath
    val ms = MemoryStream[SEvent](spark)
    ms.addData(all)
    val q = Streaming.batchLane(ms.toDF(), s"$root/ckpt", Trigger.AvailableNow())(
      Streaming.sketchBatch(_, s"$root/sk", _)).start()
    q.awaitTermination()
    val before = Streaming.sketchTotals(spark, s"$root/sk").collect().toSeq.toString
    // recovery path: batch 0 re-processes the same input
    Streaming.sketchBatch(ms.toDF().sparkSession.createDataset(all).toDF(),
      s"$root/sk", 0L)
    val after = Streaming.sketchTotals(spark, s"$root/sk").collect().toSeq.toString
    assert(after == before, "replay must rewrite batch=0, not inflate the union")
  }
}

package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streaming

/** Streaming distribution-drift monitor (`Streaming.driftBatch`) —
  * q97's stream twin: the maintained live histogram must equal the
  * one-shot histogram at ANY batch split (counts are a commutative
  * monoid), replays must be idempotent, and the TV verdict must read
  * the planted poles exactly (0 against an identical reference, 1e6
  * against a disjoint one).
  */
class StreamDriftSpec extends SparkSpec {
  import spark.implicits._

  private def events(): Seq[Ev] =
    Tables(spark, Sf0001, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[Ev].collect().toSeq

  private def oneShotHist() =
    Tables(spark, Sf0001, "events")
      .select(graft.Qh.cents(col("value")).as("c"))
      .withColumn("bucket", least(lit(19L), greatest(lit(0L), expr("c div 1000"))))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def ingest(root: String, batches: Seq[Seq[Ev]]): Unit = {
    val ms = MemoryStream[Ev](spark)
    batches.foreach(ms.addData(_))
    val q = Streaming.batchLane(ms.toDF(), s"$root/ckpt", Trigger.AvailableNow())(
      Streaming.driftBatch(_, s"$root/hist", _)).start()
    q.awaitTermination()
  }

  test("live histogram ≡ one-shot at one-batch AND three-batch splits; " +
      "TV against an identical reference is exactly 0") {
    val all = events()
    val expected = oneShotHist()
    for ((split, tag) <- Seq(all.length -> "one-batch", all.length / 3 -> "three-batch")) {
      val root = Files.createTempDirectory(s"graft_drift_$tag").toFile.getAbsolutePath
      ingest(root, all.grouped(split).toSeq)
      // freeze the reference as the SAME corpus's one-shot histogram
      expected.toSeq.toDF("bucket", "n")
        .write.mode("overwrite").parquet(s"$root/ref")
      val grid = Streaming.driftStatus(spark, s"$root/hist", s"$root/ref")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(5))).toMap
      assert(grid.map { case (b, (n, _)) => b -> n } == expected,
        s"$tag: live histogram must equal one-shot")
      assert(grid.values.forall(_._2 == 0L), s"$tag: identical dist must have |Δ| = 0")
      val v = Streaming.driftAlarm(spark, s"$root/hist", s"$root/ref").collect()(0)
      assert(v.getLong(0) == 0L && !v.getBoolean(1), s"$tag: TV must be 0, no alarm")
    }
  }

  test("disjoint live vs reference reads TV = 1e6 and alarms; one-sided " +
      "buckets surface as explicit zero rows") {
    val root = Files.createTempDirectory("graft_drift_tv").toFile.getAbsolutePath
    def ev(id: Long, v: Double) =
      Ev(id, new java.sql.Timestamp(1000000000L + id), id, "t", v)
    // live mass entirely in bucket 0; reference entirely in bucket 1
    ingest(root, Seq(Seq(ev(1, 0.50), ev(2, 0.60))))
    Seq((1L, 2L)).toDF("bucket", "n").write.mode("overwrite").parquet(s"$root/ref")
    val grid = Streaming.driftStatus(spark, s"$root/hist", s"$root/ref")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(grid.keySet == Set(0L, 1L), s"one-sided buckets must appear: $grid")
    assert(grid(0L) == ((2L, 0L, 1000000L, 0L, 1000000L)), s"$grid")
    assert(grid(1L) == ((0L, 2L, 0L, 1000000L, 1000000L)), s"$grid")
    val v = Streaming.driftAlarm(spark, s"$root/hist", s"$root/ref").collect()(0)
    assert(v.getLong(0) == 1000000L && v.getBoolean(1),
      s"fully diverged must read TV = 1e6 and alarm: $v")
  }

  test("replaying a batch overwrites its partition — histogram unchanged") {
    val all = events()
    val root = Files.createTempDirectory("graft_drift_rp").toFile.getAbsolutePath
    ingest(root, Seq(all))
    val before = spark.read.parquet(s"$root/hist")
      .groupBy("bucket").agg(sum("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // checkpoint-recovery replay: batch 0 re-delivered with the same id
    Streaming.driftBatch(all.toDF(), s"$root/hist", 0L)
    val after = spark.read.parquet(s"$root/hist")
      .groupBy("bucket").agg(sum("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before, "replay must be idempotent")
    assert(before == oneShotHist())
  }
}

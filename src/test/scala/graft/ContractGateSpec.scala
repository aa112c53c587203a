package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Top-level for Encoder derivation (the [[CDoc]] precedent). user_id is
  * an Option so a null-completeness violation is constructible. */
case class CEvent(event_id: Long, ts: Timestamp, user_id: Option[Long],
    event_type: String, value: Double)

/** Streaming data-quality gate ([[Streaming.contractBatch]]): the q67
  * expectation battery applied record-level at ingest — accepted and
  * quarantined rows partition the input, reasons are deterministic,
  * replays rewrite instead of duplicating. */
class ContractGateSpec extends SparkSpec {
  import spark.implicits._

  private val Domain = Seq("click", "view", "purchase", "signup", "error")
  private val MaxC = 10000000L // 100k.00 in cents

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  test("gate partitions the input: accepted ∪ quarantine ≡ input, disjoint, reasons right") {
    val root = Files.createTempDirectory("graft_contract_").toFile.getAbsolutePath
    val ms = MemoryStream[CEvent](spark)
    ms.addData(Seq(
      CEvent(1, ts(1), Some(10), "click", 5.0),            // clean
      CEvent(2, ts(2), None, "view", 5.0),                 // null user
      CEvent(3, ts(3), Some(11), "hover", 5.0),            // bad type
      CEvent(4, ts(4), Some(12), "view", -1.0),            // below range
      CEvent(5, ts(5), Some(13), "purchase", 2000000.0),   // above range
      CEvent(6, ts(6), Some(14), "click", 7.0),            // dup pair: first kept
      CEvent(6, ts(7), Some(15), "click", 8.0)))           // dup pair: quarantined
    val q = Streaming.batchLane(ms.toDF(), s"$root/ckpt", Trigger.AvailableNow())(
      Streaming.contractBatch(_, Domain, MaxC, s"$root/ok", s"$root/dlq", _)).start()
    q.awaitTermination()

    val ok = spark.read.parquet(s"$root/ok")
    val dlq = spark.read.parquet(s"$root/dlq")
    assert(ok.count() + dlq.count() == 7, "nothing silently dropped")
    assert(ok.select("event_id").as[Long].collect().toSeq.sorted == Seq(1L, 6L))
    // the kept 6 is the FIRST by (ts, user_id)
    assert(ok.filter(col("event_id") === 6).select("user_id").as[Long].head() == 14L)
    val reasons = dlq.select("event_id", "reason").as[(Long, String)].collect().toMap
    assert(reasons == Map(2L -> "null_user_id", 3L -> "unknown_event_type",
      4L -> "value_out_of_range", 5L -> "value_out_of_range", 6L -> "duplicate_event_id"))
  }

  test("stream ≡ batch recordChecks on real events; replay rewrites, never duplicates") {
    val root = Files.createTempDirectory("graft_contract2_").toFile.getAbsolutePath
    val ev = Tables(spark, Sf0001, "events")
      .select(col("event_id"), col("ts"),
        col("user_id").cast("long").as("user_id"), col("event_type"), col("value"))
    val fixture = ev.limit(200).as[CEvent].collect().toSeq

    val ms = MemoryStream[CEvent](spark)
    ms.addData(fixture)
    val start = () => Streaming.batchLane(ms.toDF(), s"$root/ckpt", Trigger.AvailableNow())(
      Streaming.contractBatch(_, Domain, MaxC, s"$root/ok", s"$root/dlq", _)).start()
    val q0 = start(); q0.awaitTermination()

    val streamOk = spark.read.parquet(s"$root/ok")
      .select("event_id").as[Long].collect().toSeq.sorted
    val batchOk = Streaming.recordChecks(ev.limit(200), Domain, MaxC)
      .filter(col("reason").isNull)
      .select("event_id").as[Long].collect().toSeq.sorted
    assert(streamOk == batchOk, "stream gate must equal the batch checks")
    // real events are contract-clean at these thresholds
    assert(spark.read.parquet(s"$root/dlq").count() == 0)

    // replay batch 0 (the recovery path): same rows, not doubled
    Streaming.contractBatch(ev.limit(200), Domain, MaxC, s"$root/ok", s"$root/dlq", 0L)
    val replayed = spark.read.parquet(s"$root/ok")
      .select("event_id").as[Long].collect().toSeq.sorted
    assert(replayed == streamOk, "replay must rewrite batch=0, not duplicate it")
  }
}

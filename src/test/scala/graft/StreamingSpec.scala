package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Top-level so Spark can derive an Encoder without an outer pointer. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** Collects foreachBatchSink writer payloads. A singleton so the closure
  * shipped to executors and the asserting test observe the same state
  * (local mode: one JVM; object fields deserialize by module reference). */
object SinkProbe {
  val chunks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
  def record(batchId: Long, ids: Seq[Long]): Unit = chunks.add((batchId, ids))
  def clear(): Unit = chunks.clear()
}

/** SQ1–SQ11: batch-vs-stream equivalence, watermark dedup/late-drop,
  * router fan-out, checkpoint kill/recover without duplicates. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")

  private val events = Seq(
    Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 2.0),
    Ev(3, ts(65), 2, "click", 3.0), Ev(4, ts(70), 2, "buy", 4.0),
    Ev(5, ts(130), 1, "buy", 5.0), Ev(6, ts(135), 1, "click", 6.0))

  /** Run transform over a MemoryStream in AvailableNow mode, complete output. */
  private def streamed(input: Seq[Ev], transform: DataFrame => DataFrame,
      mode: String = "complete", name: String = s"q${System.nanoTime()}"): DataFrame = {
    val ms = MemoryStream[Ev](spark)
    ms.addData(input)
    val q = transform(ms.toDF()).writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  test("SQ3 tumbling counts: stream result == batch result on same input") {
    val fromStream = streamed(events, Streaming.tumblingCounts(_))
      .orderBy("win_start", "event_type").collect().toSeq
    val fromBatch = Streaming.tumblingCounts(events.toDF())
      .orderBy("win_start", "event_type").collect().toSeq
    assert(fromStream == fromBatch)
    assert(fromStream.map(_.getLong(2)).sum == events.size)
  }

  test("SQ4 sliding windows overlap: each event lands in 4 windows of 1h/15m") {
    val out = Streaming.slidingAvg(events.toDF()).collect()
    assert(out.map(_.getAs[Long]("n")).sum == events.size * 4)
  }

  test("SQ5 session windows: 30-min gap splits user 1 into three sessions") {
    val out = streamed(events, Streaming.sessionCounts(_))
    val u1 = out.filter(col("user_id") === 1).collect()
    assert(u1.length == 2) // events at 5,20 together; 130,135 together
    assert(u1.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(2, 2))
  }

  test("SQ6 dropDuplicatesWithinWatermark removes cross-batch dupes") {
    val dupes = events ++ Seq(Ev(1, ts(5), 1, "click", 1.0), Ev(3, ts(65), 2, "click", 3.0))
    val out = streamed(dupes, Streaming.dedupWithinWatermark(_, Seq("event_id")), mode = "append")
    assert(out.count() == events.size)

    // keep-first across three micro-batches: a key's later copy (other
    // value, later ts, inside the 24 h watermark) never emits
    val ms = MemoryStream[Ev](spark)
    val name = s"q${System.nanoTime()}"
    val q = Streaming.dedupWithinWatermark(ms.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    ms.addData(Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(6), 1, "click", 2.0))
    q.processAllAvailable()
    ms.addData(Ev(1, ts(7), 1, "click", 9.0))
    q.processAllAvailable()
    ms.addData(Ev(3, ts(10), 2, "buy", 3.0))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table(name).select("event_id", "value").as[(Long, Double)]
      .collect().sorted.toSeq
    assert(kept == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)), s"got $kept")
  }

  test("SQ8 router: strict >1024 threshold fans out to two branches") {
    val df = Seq(("a", "x" * 1024), ("b", "y" * 1025), ("c", "tiny")).toDF("id", "text")
    val routed = Streaming.routeByLength(df)
    assert(routed.filter(col("branch") === "summary").select("id").as[String].collect().toSeq == Seq("b"))
    assert(routed.filter(col("branch") === "direct").count() == 2)
  }

  test("SQ7 stream-static join enriches stream rows from the static snapshot") {
    val static = Seq(("click", "ui"), ("buy", "commerce")).toDF("event_type", "kind")
    val out = Streaming.streamStaticJoin(events.toDF(), static, "event_type")
    assert(out.filter(col("kind").isNull).count() == 0)
    assert(out.count() == events.size)
  }

  test("SQ10 running aggregate per topic in update mode") {
    val scored = Seq(("ai", 0.5), ("ai", 0.7), ("rust", -0.2))
      .toDF("topic", "sentiment_score")
    val out = Streaming.runningTopicAgg(scored).orderBy("topic").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("ai", 2L), ("rust", 1L)))
  }

  test("batch sessionize agrees with streaming session_window on session count and sizes") {
    // Two independent implementations of the same 30-min gap rule — the
    // batch window-function sessionizer (Temporal.sessionize) and
    // Spark's native session_window (SQ5) — must carve identical
    // sessions per user on the shared fixture. (Boundary note: at a gap
    // of EXACTLY 30:00 sessionize keeps the session (strict >, oracle-
    // matched) while session_window starts a new one (window end is
    // exclusive); the fixture deliberately avoids the exact boundary.)
    import graft.operators.Temporal
    val fromBatch = Temporal.sessionize(events.toDF())
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"))
      .select("user_id", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val fromSessionWindow = Streaming.sessionCounts(events.toDF())
      .select("user_id", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(fromBatch == fromSessionWindow)
  }

  test("SQ11 stream-stream interval join equals batch join; horizon excludes stale clicks") {
    val clicks = events.filter(_.event_type == "click")
    val buys = events.filter(_.event_type == "buy")
    val msC = MemoryStream[Ev](spark); msC.addData(clicks)
    val msP = MemoryStream[Ev](spark); msP.addData(buys)
    val name = s"q${System.nanoTime()}"
    val q = Streaming.intervalJoin(msC.toDF(), msP.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val key = (df: DataFrame) => df.orderBy("click_id", "purchase_id").collect().toSeq
    val fromStream = key(spark.table(name))
    val fromBatch = key(Streaming.intervalJoin(clicks.toDF(), buys.toDF()))
    assert(fromStream == fromBatch)
    // user 2's click@65 pairs with buy@70 (5 min); user 1's clicks at 5/20
    // are >1 h before the buy@130 and the click@135 is after it — excluded.
    assert(fromBatch.map(r =>
      (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))) == Seq((3L, 4L)))
  }

  test("SQ9 checkpointed file sink: kill and resume produces no duplicates") {
    val dir = Files.createTempDirectory("graft_sq9_").toFile.getAbsolutePath
    val src = s"$dir/in"; val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    new java.io.File(src).mkdirs()
    def writeBatch(n: Int, rows: Seq[Ev]): Unit =
      rows.toDS().coalesce(1).write.mode("overwrite").json(s"$dir/stage$n") // then move in
    // batch 1
    writeBatch(1, events.take(3))
    new java.io.File(s"$dir/stage1").listFiles().filter(_.getName.endsWith(".json"))
      .foreach(f => Files.move(f.toPath, new java.io.File(src, "b1.json").toPath))
    val schema = Seq.empty[Ev].toDS().schema
    def run(): Unit = {
      val q = Streaming.parquetSink(Streaming.jsonFileSource(spark, src, schema), out, ckpt,
        Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val t0 = System.currentTimeMillis()
    run() // processes batch 1, then "dies" (query stops)
    // batch 2 arrives while down; restart from checkpoint
    writeBatch(2, events.drop(3))
    new java.io.File(s"$dir/stage2").listFiles().filter(_.getName.endsWith(".json"))
      .foreach(f => Files.move(f.toPath, new java.io.File(src, "b2.json").toPath))
    run() // resume
    val t1 = System.currentTimeMillis()
    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == events.map(_.event_id).sorted.toSeq, "each event exactly once across restart")
    // the sink stamps a 24 h TTL from processing time on every row
    val day = 24L * 3600 * 1000
    val expires = spark.read.parquet(out).select("expires_at").as[java.sql.Timestamp]
      .collect().map(_.getTime)
    assert(expires.forall(e => e >= t0 + day - 1000 && e <= t1 + day + 1000),
      s"expires_at outside [start, end] + 24 h: ${expires.toSeq}")
  }

  test("K3/K4 foreachBatchSink: writer runs per-partition on executors, every row once, chunks capped") {
    SinkProbe.clear()
    val dir = Files.createTempDirectory("graft_fbs_").toFile.getAbsolutePath
    val ms = MemoryStream[Ev](spark)
    ms.addData(events)
    val q = Streaming.foreachBatchSink(ms.toDF(), s"$dir/ckpt", insertBatch = 2) {
      (batchId, rows) => SinkProbe.record(batchId, rows.map(_.getAs[Long]("event_id")))
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val chunks = SinkProbe.chunks.asScala.toSeq
    assert(chunks.nonEmpty)
    assert(chunks.forall(_._2.size <= 2), "DB write chunking respects insertBatch (reference: 25)")
    assert(chunks.flatMap(_._2).sorted == events.map(_.event_id).sorted,
      "each row delivered to the writer exactly once")
  }

  test("S4/K1 kafka binding: documented options parse against the real connector when present") {
    // Reflection-guarded: the connector jar is absent in this offline
    // environment, so the test auto-skips (canceled, not passed) — but the
    // day a kafka jar lands on the classpath, the documented source
    // options in Streaming.kafkaSourceOptions are exercised for real.
    val hasKafka =
      try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
      catch { case _: ClassNotFoundException => false }
    assume(hasKafka, "kafka connector jar absent (offline env)")
    val df = spark.readStream.format("kafka")
      .options(Streaming.kafkaSourceOptions("localhost:9092", "posts"))
      .load()
    // the fixed Kafka source schema the wire codecs bind against
    val names = df.schema.fieldNames.toSet
    assert(Set("key", "value", "topic", "partition", "offset", "timestamp").subsetOf(names))
  }

  test("M1 health gating: down backend fails the batch; recovery reprocesses without loss") {
    val dir = Files.createTempDirectory("graft_health_").toFile.getAbsolutePath
    val ms = MemoryStream[Ev](spark)
    ms.addData(events)
    val healthy = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probes = new java.util.concurrent.atomic.AtomicInteger()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = Streaming.healthGatedSink(ms.toDF(), s"$dir/ckpt",
        () => { probes.incrementAndGet(); healthy.get() },
        maxTries = 2, backoffMs = 10, trigger = Trigger.AvailableNow()) { (b, _) =>
      b.collect().foreach(r => out.add(r.getAs[Long]("event_id")))
    }.start()

    // backend down: the micro-batch must fail, not be skipped-and-committed
    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] { q1.awaitTermination() }
    assert(out.isEmpty, "no rows may reach the sink while unhealthy")
    assert(probes.get() == 2, s"the failed attempt probes exactly maxTries = 2 times, not ${probes.get()}")

    // backend recovers: restart from the SAME checkpoint reprocesses the
    // failed batch — gating delayed the data, never dropped it
    healthy.set(true)
    val q2 = start()
    q2.awaitTermination()
    import scala.jdk.CollectionConverters._
    assert(out.asScala.toSeq.sorted == events.map(_.event_id).sorted,
      "recovery delivers each row exactly once")
  }

  test("M1 health gating: a flapping backend delays the batch, then it proceeds") {
    val dir = Files.createTempDirectory("graft_flap_").toFile.getAbsolutePath
    val ms = MemoryStream[Ev](spark)
    ms.addData(events)
    // unhealthy on the first probe, healthy from the second on — the gate's
    // in-batch backoff loop must absorb the flap without failing the query
    val probes = new java.util.concurrent.atomic.AtomicInteger()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = Streaming.healthGatedSink(ms.toDF(), s"$dir/ckpt", () => probes.incrementAndGet() >= 2,
        maxTries = 5, backoffMs = 10, trigger = Trigger.AvailableNow()) { (b, _) =>
      b.collect().foreach(r => out.add(r.getAs[Long]("event_id")))
    }.start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    assert(probes.get() >= 2, "gate must have re-probed after the first unhealthy answer")
    assert(out.asScala.toSeq.sorted == events.map(_.event_id).sorted)
  }

  test("foreachBatch appears in src/main/scala only inside Streaming.batchLane") {
    // Every checkpointed micro-batch sink is built on batchLane, so the
    // commit-after-sink contract has one header; a second
    // writeStream → foreachBatch copy fails this sweep. Comments and
    // the foreachBatchSink name do not count.
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val lines = (f: java.io.File) => scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
    val hits = for {
      f <- sources(new java.io.File("src/main/scala"))
      (line, i) <- lines(f).zipWithIndex
      code = line.trim.split("//", 2)(0)
      if !code.startsWith("*") && !code.startsWith("/*")
      if """\bforeachBatch\b""".r.findFirstIn(code).isDefined
    } yield (f.getPath, i + 1)
    val file = "src/main/scala/graft/streaming/Streaming.scala"
    val src = lines(new java.io.File(file))
    val from = src.indexWhere(_.contains("def batchLane(")) + 1
    val to = src.indexWhere(_.trim.isEmpty, from)
    assert(from > 0 && hits.size == 1 && hits.forall(h =>
      h._1 == file && h._2 > from && h._2 <= to),
      s"foreachBatch outside Streaming.batchLane (lines $from-$to): ${hits.mkString("; ")}")
  }

  test("SQ3 late data beyond the watermark is dropped from the aggregate") {
    val name = "late_q"
    val ms = MemoryStream[Ev](spark)
    val q = Streaming.tumblingCounts(ms.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: events up to t=25h advance the watermark to 24h
    ms.addData(Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(25 * 60), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 2: an event at t=2h is far behind the 24h watermark -> dropped
    ms.addData(Ev(3, ts(120), 1, "click", 9.0))
    q.processAllAvailable()
    // force emission by advancing event time further
    ms.addData(Ev(4, ts(50 * 60), 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table(name)
    // the 02:00 window was never (re)built with the late row
    assert(emitted.filter(col("win_start") === ts(120)).count() == 0)
  }
}

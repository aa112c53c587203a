package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** What one measured phase of the lane saw. */
final case class LanePhase(tracer: Tracer, lane: Lane, counters: EnrichCounters,
    batches: Seq[Progress], sinks: Seq[String], records: Long, wallS: Double) {
  def busyS: Double = batches.map(_.durS).sum
}

/** `sentiflow`: the sentiflow lane under two loads, one run each.
  *
  *  - Backlog (drain): `BacklogRecords` records are written before the
  *    query starts and drained with `Trigger.AvailableNow`, 2,000 posts a
  *    micro-batch, each round into a fresh sink and checkpoint. Batches are
  *    large, so per-row work dominates. Gives `throughput_per_s`.
  *  - Paced (open loop): a generator thread lands one file of `PacedPerFile`
  *    records every `IntervalMs` (400 posts/s, about a third of the drain
  *    rate) on a fixed schedule that never waits for the query, which runs
  *    a zero-interval processing-time trigger. Batches are small, so
  *    per-micro-batch overhead dominates. Gives the latency metrics as
  *    freshness: from a file's scheduled landing to the end of the micro-
  *    batch that made its rows visible in the sink.
  *
  * Both loads carry the same posts (the paced files are a prefix of the
  * backlog's records), so one batch reference checks every sink. */
final class Sentiflow(env: Env) {
  import env._

  val BacklogRecords = 4000
  val BacklogPerFile = 500
  val FilesPerTrigger = 4
  val IntervalMs = 250
  val PacedPerFile = 100
  val PrimeFiles = 2

  private var records: IndexedSeq[Record] = IndexedSeq.empty
  private var pacedFiles: Seq[WireFile] = Nil
  private lazy val backlogIn: Path = dir("backlog-in")

  private def newLane(traced: Boolean): (Lane, Tracer, EnrichCounters) = {
    val tr = new Tracer(runId, traced, spark.sparkContext)
    val c = EnrichCounters(spark)
    (new Lane(spark, tr, c), tr, c)
  }

  /** Generate the records and write the backlog files. */
  private def generate(): IndexedSeq[Record] = {
    val recs = new PostGen(seed).records(BacklogRecords)
    recs.grouped(BacklogPerFile).zipWithIndex.foreach { case (rs, i) =>
      Lane.writeFile(backlogIn, WireFile(i, rs)) }
    recs
  }

  /** Set-up: input generation three times (median), then a priming drain
    * of two one-file micro-batches through the lane into a throwaway sink,
    * so class loading and code generation land here rather than in the
    * measured batches. */
  private def setup(pacedS: Double): Double = {
    val gens = (1 to 3).map(_ => timed(generate()))
    records = gens.last._1
    val nPaced = math.min(BacklogRecords / PacedPerFile, (pacedS * 1000 / IntervalMs).toInt)
    pacedFiles = records.take(nPaced * PacedPerFile).grouped(PacedPerFile).zipWithIndex
      .map { case (rs, i) => WireFile(i, rs, i.toLong * IntervalMs) }.toSeq
    val (_, primeS) = timed {
      val in = dir("prime-in")
      records.take(PrimeFiles * BacklogPerFile).grouped(BacklogPerFile).zipWithIndex.foreach {
        case (rs, i) => Lane.writeFile(in, WireFile(i, rs)) }
      val (lane, _, _) = newLane(traced = false)
      lane.start(in.toString, dir("prime-sink").resolve("t").toString,
        dir("prime-ckpt").toString, Trigger.AvailableNow(), 1).awaitTermination()
    }
    System.err.println(f"[perfbench] generate ${gens.map(_._2).min}%.2f s, prime $primeS%.2f s")
    listener.settle()
    listener.reset()
    Stats.median(gens.map(_._2)) + primeS
  }

  /** The query's batch progress; waits for events that trail the query's
    * end, until there is one per batch in the checkpoint's source log. */
  private def progressOf(q: StreamingQuery, ckpt: String): Seq[Progress] = {
    val want = Lane.batchOfFile(ckpt).values.toSet.size
    val deadline = System.nanoTime() + 5e9.toLong
    var got = progress.of(q)
    while (got.size < want && System.nanoTime() < deadline) { Thread.sleep(20); got = progress.of(q) }
    got
  }

  /** Drain rounds for about `budgetS`. */
  private def backlog(traced: Boolean, budgetS: Double): LanePhase = {
    val (lane, tr, c) = newLane(traced)
    val rounds = repeatFor(budgetS) { i =>
      val sink = dir("backlog-sink").resolve("t").toString
      val ckpt = dir("backlog-ckpt").toString
      lane.tag = s"r$i"
      val (q, s) = timed {
        val q = lane.start(backlogIn.toString, sink, ckpt, Trigger.AvailableNow(), FilesPerTrigger)
        q.awaitTermination()
        q
      }
      ((sink, progressOf(q, ckpt).map(_.copy(tag = s"r$i"))), s)
    }
    System.err.println("[perfbench] drain rounds " + rounds.map(r => f"${r._2}%.2f").mkString(" ") +
      " s, batches " + rounds.flatMap(_._1._2).map(b => f"${b.durS}%.2f").mkString(" ") + " s")
    LanePhase(tr, lane, c, rounds.flatMap(_._1._2), rounds.map(_._1._1),
      BacklogRecords.toLong * rounds.size, rounds.map(_._2).sum)
  }

  // what the last paced phase saw, besides its batches, and the records of
  // every paced phase that no batch took
  private var fresh: Seq[Double] = Nil
  private var late: Seq[Double] = Nil
  private var backlogMax = 0
  private var untaken = 0L

  /** Land every paced file on its schedule, then wait for the query. */
  private def paced(traced: Boolean): LanePhase = {
    val (lane, tr, c) = newLane(traced)
    val in = dir("paced-in")
    val staging = dir("paced-staging")
    val sink = dir("paced-sink").resolve("t").toString
    val ckpt = dir("paced-ckpt").toString
    lane.tag = "p"
    val q = lane.start(in.toString, sink, ckpt, Trigger.ProcessingTime(0), 1000)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!q.status.message.startsWith("Waiting") && System.nanoTime() < deadline) Thread.sleep(10)
    val landed = new Array[Double](pacedFiles.size)
    val t0 = tr.nowS + 0.1
    val gen = new Thread(() => pacedFiles.zipWithIndex.foreach { case (f, i) =>
      Lane.park(t0 + f.schedMs / 1e3, () => tr.nowS)
      Lane.land(staging, in, f)
      landed(i) = tr.nowS
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    val byFile = Lane.batchOfFile(ckpt)
    val batches = progressOf(q, ckpt).map(_.copy(tag = "p"))
    val due = pacedFiles.map(f => f.name -> (t0 + f.schedMs / 1e3)).toMap
    fresh = Stats.freshness(due, byFile, batches.map(b => b.batchId -> b.endS).toMap)
    late = pacedFiles.indices.map(i => landed(i) - due(pacedFiles(i).name))
    untaken += pacedFiles.filterNot(f => byFile.contains(f.name)).map(_.records.size.toLong).sum
    val landedAt = pacedFiles.indices.map(i => pacedFiles(i).name -> landed(i)).toMap
    backlogMax = batches.map { b =>
      pacedFiles.count(f => landedAt(f.name) <= b.startS && byFile.get(f.name).forall(_ >= b.batchId))
    }.maxOption.getOrElse(0)
    val lastEnd = batches.map(_.endS).maxOption.getOrElse(t0)
    System.err.println("[perfbench] paced batches " + batches.map(b => f"${b.rows}:${b.durS}%.2f").mkString(" "))
    LanePhase(tr, lane, c, batches, Seq(sink), pacedFiles.map(_.records.size.toLong).sum,
      lastEnd - t0)
  }

  /** Output checks of every phase's sinks against one batch reference;
    * returns the number of records that failed. */
  private def check(drains: Seq[LanePhase], paces: Seq[LanePhase]): Long = {
    val (exp, off) = Lane.expected(spark, records.flatMap(_.post))
    val pacedExp = Lane.restrict(spark, exp, pacedFiles.flatMap(_.posts))
    val bad = off + drains.flatMap(_.sinks).map(Lane.checkSink(spark, _, exp)).sum +
      paces.flatMap(_.sinks).map(Lane.checkSink(spark, _, pacedExp)).sum +
      Lane.checkFromWire(spark, backlogIn.toString, records.count(_.post.nonEmpty)) + untaken
    exp.unpersist()
    bad
  }

  def run(seconds: Double, trace: Boolean, r: Report.Result): Unit = {
    // untraced: half the run drains, half is paced; traced: the same
    // again, untraced then traced, each a quarter
    val share = if (trace) seconds / 4 else seconds / 2
    r("setup_s") = setup(share)
    val (b, p) = (backlog(traced = false, share), paced(traced = false))
    val phases = if (!trace) {
      r("throughput_per_s") = b.records / b.wallS
      r("latency_p50_s") = Stats.median(fresh)
      r("latency_geomean_s") = Stats.geomean(fresh)
      (Seq(b), Seq(p))
    } else {
      listener.settle()
      listener.reset()
      val tb = backlog(traced = true, share)
      listener.settle()
      spanLayers(tb, r)
      sparkLayers(Seq("sources", "pipeline", "enrich"), r)
      listener.reset()
      val tp = paced(traced = true)
      listener.settle()
      streamingLayers(tp, r)
      sparkLayers(Seq("streaming"), r)
      r("bench.trace_overhead_ratio") = (tb.wallS / tb.records + tp.busyS / tp.records) /
        (b.wallS / b.records + p.busyS / p.records)
      Tracer.write(work.resolve("spans.jsonl"), tb.tracer.all ++ tp.tracer.all)
      (Seq(b, tb), Seq(p, tp))
    }
    val (bad, s) = timed(check(phases._1, phases._2))
    System.err.println(f"[perfbench] check $s%.2f s")
    r.attempted += (phases._1 ++ phases._2).map(_.records).sum
    r.failed += bad
  }

  // the spans each lane layer's Spark work is charged to; `streaming` is
  // the whole micro-batch, every job the query ran
  private def layerSpans(l: String): Seq[String] = l match {
    case "sources" => Seq("sources.fromWire", "sources.upsert")
    case "pipeline" => Seq("pipeline.ingest")
    case "enrich" => Seq("enrich.summarize", "enrich.score")
    case "streaming" => listener.spanNames.toSeq
  }

  private def sparkLayers(layers: Seq[String], r: Report.Result): Unit = layers.foreach { l =>
    val t = listener.totals(layerSpans(l))
    r(s"spark.$l.jobs") = t.jobs
    r(s"spark.$l.tasks") = t.tasks
    r(s"spark.$l.shuffle_bytes") = t.shuffleWriteBytes
    r(s"spark.$l.spill_bytes") = t.spillBytes
  }

  /** Per-micro-batch layer times of the traced drain. `streaming.self_s`
    * is the batch wall time the layer spans leave uncovered, so the layer
    * self times plus it equal `streaming.batch_mean_s`. */
  private def spanLayers(p: LanePhase, r: Report.Result): Unit = {
    val tr = p.tracer
    p.batches.foreach(b => tr.add("streaming.batch", b.startS, b.endS, id = b.spanId))
    val self = Stats.selfTimes(tr.all)
    val nb = math.max(1, p.batches.size).toDouble
    def perBatch(name: String) = tr.all.filter(_.name == name).map(s => self(s.id)).sum / nb
    Seq("sources.fromWire", "sources.upsert", "pipeline.ingest", "enrich.summarize",
      "enrich.score").foreach(n => r(s"${n}_s") = perBatch(n))
    r("streaming.self_s") = perBatch("streaming.batch")
    r("streaming.batch_mean_s") = Stats.mean(p.batches.map(_.durS))
    r("pipeline.ingest_kept_ratio") = p.lane.keptRows.toDouble / math.max(1L, p.lane.parsedRows)
    val c = p.counters
    r("enrich.summarize_calls") = c.sumCalls.value.toDouble
    r("enrich.summary_kept_ratio") = c.sumKept.value.toDouble / math.max(1L, c.sumItems.value)
    r("enrich.score_calls") = c.scoreCalls.value.toDouble
    r("enrich.score_fill_ratio") = c.scoreItems.value.toDouble / math.max(1L, c.scoreCalls.value) / 10
  }

  /** Micro-batch and sink metrics of the traced paced phase. */
  private def streamingLayers(p: LanePhase, r: Report.Result): Unit = {
    val tr = p.tracer
    p.batches.foreach(b => tr.add("streaming.batch", b.startS, b.endS, id = b.spanId))
    val ups = tr.all.filter(_.name == "sources.upsert").sortBy(_.startS).map(_.durationS)
    val tenth = math.max(1, ups.size / 10)
    r("sources.upsert_growth") = Stats.mean(ups.takeRight(tenth)) / Stats.mean(ups.take(tenth))
    r("sources.upsert_written_ratio") =
      listener.totals("sources.upsert").recordsWritten.toDouble / math.max(1L, p.lane.offered)
    r("sources.table_files") =
      Files.list(Paths.get(p.sinks.head)).iterator().asScala.count(_.toString.endsWith(".parquet"))
    val durs = p.batches.map(_.durS)
    val nb = math.max(1, p.batches.size).toDouble
    r("streaming.batches") = p.batches.size
    r("streaming.rows_per_batch") = p.batches.map(_.rows).sum / nb
    r("streaming.batch_p50_s") = Stats.percentile(durs, 50)
    r("streaming.batch_p90_s") = Stats.percentile(durs, 90)
    r("streaming.plan_s") = Stats.mean(p.batches.map(_.planS))
    r("streaming.commit_s") = Stats.mean(p.batches.map(_.commitS))
    r("streaming.jobs_per_batch") = listener.totals(layerSpans("streaming")).jobs / nb
    r("streaming.backlog_files_max") = backlogMax
    r("bench.gen_late_p99_s") = Stats.percentile(late, 99)
  }
}

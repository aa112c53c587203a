package perfbench

import scala.collection.mutable

/** The metric names the benchmark reports, in one place: every run prints
  * the whole end-to-end set (untraced) or the whole per-layer set (traced),
  * and a layer a workload does not exercise reads 0 there. */
object Report {
  val Modules: Seq[String] =
    Seq("Relational", "Temporal", "TextOps", "Dedup", "Similarity", "Graph")
  val LaneLayers: Seq[String] = Seq("sources", "pipeline", "enrich", "streaming")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_s" -> "s",
    "latency_geomean_s" -> "s")

  def perLayer(mixQueries: Seq[String]): Seq[(String, String)] =
    Seq("sources.fromWire_s" -> "s", "sources.upsert_s" -> "s",
      "sources.upsert_growth" -> "ratio", "sources.upsert_written_ratio" -> "ratio",
      "sources.table_files" -> "count",
      "pipeline.ingest_s" -> "s", "pipeline.ingest_kept_ratio" -> "ratio",
      "enrich.summarize_s" -> "s", "enrich.summarize_calls" -> "count",
      "enrich.summary_kept_ratio" -> "ratio", "enrich.score_s" -> "s",
      "enrich.score_calls" -> "count", "enrich.score_fill_ratio" -> "ratio",
      "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
      "streaming.batch_mean_s" -> "s", "streaming.batch_p50_s" -> "s",
      "streaming.batch_p90_s" -> "s", "streaming.self_s" -> "s", "streaming.plan_s" -> "s",
      "streaming.commit_s" -> "s", "streaming.jobs_per_batch" -> "count",
      "streaming.backlog_files_max" -> "count") ++
      Modules.flatMap(m => Seq(s"operators.${m}_s" -> "s", s"operators.${m}_jobs" -> "count",
        s"operators.${m}_shuffle_bytes" -> "B", s"operators.${m}_spill_bytes" -> "B",
        s"operators.${m}_straggler_ratio" -> "ratio")) ++
      mixQueries.map(q => s"query.${q}_s" -> "s") ++
      LaneLayers.flatMap(l => Seq(s"spark.$l.jobs" -> "count", s"spark.$l.tasks" -> "count",
        s"spark.$l.shuffle_bytes" -> "B", s"spark.$l.spill_bytes" -> "B")) ++
      Seq("bench.gen_late_p99_s" -> "s", "bench.trace_overhead_ratio" -> "ratio",
        "bench.peak_rss_mb" -> "MB")

  /** A run's outcome: metric values by name, operations attempted and
    * failed (an operation that threw or failed its output check). */
  final class Result {
    val values: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
    var attempted = 0L
    var failed = 0L
    def update(name: String, v: Double): Unit = values(name) = v
  }

  /** The run's JSON: the `names` metrics with their units (0 for one the
    * workload did not measure, null for one with no sample), attempted and
    * failed. */
  def json(r: Result, names: Seq[(String, String)]): String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = names.map { case (n, u) =>
      s""""$n":{"value":${num(r.values.getOrElse(n, 0.0))},"unit":"$u"}""" }
    s"""{"attempted":${r.attempted},"failed":${r.failed},"metrics":{${ms.mkString(",")}}}"""
  }
}

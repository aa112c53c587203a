package perfbench

import java.nio.file.Files

import graft.SparkEntry
import graft.operators._

/** `analytics_mix`: one client in a closed loop over a fixed mix of
  * registered queries, each run to the `noop` sink. A warm pass (set-up)
  * writes every result for the oracle check; timed passes then repeat
  * until the run's seconds are used, each in an order the seed shuffles. */
final class Mix(env: Env, tables: String) {
  import env._
  import Mix.Queries

  val moduleOf: Map[String, String] = Seq(
    "Relational" -> Relational.defs, "Temporal" -> Temporal.defs, "TextOps" -> TextOps.defs,
    "Dedup" -> Dedup.defs, "Similarity" -> Similarity.defs, "Graph" -> Graph.defs,
  ).flatMap { case (m, defs) => defs.map(_._1 -> m) }.toMap

  private val fns = SparkEntry.queries

  private def order(pass: Int): Seq[String] = new scala.util.Random(seed * 1000 + pass).shuffle(Queries)

  /** Run query `q` through `sink`; false when it threw. */
  private def exec(q: String, r: Report.Result)(sink: org.apache.spark.sql.DataFrame => Unit): Boolean = {
    r.attempted += 1
    val ok =
      try { sink(fns(q)(spark, tables)); true }
      catch { case e: Exception => System.err.println(s"[perfbench] $q failed: $e"); false }
    if (!ok) r.failed += 1
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    ok
  }

  /** Timed passes for about `budgetS`; per pass, each query's wall
    * seconds. */
  private def passes(tr: Tracer, budgetS: Double, r: Report.Result): Seq[Map[String, Double]] =
    repeatFor(budgetS) { k =>
      val pass = s"pass-$k"
      val times = tr.span("mix.pass", id = pass) {
        order(k + 1).map { q =>
          q -> timed(tr.span(s"operators.${moduleOf(q)}", pass, s"$q#$k")(
            exec(q, r)(_.write.format("noop").mode("overwrite").save())))._2
        }.toMap
      }
      System.err.println(f"[perfbench] pass $k ${times.values.sum}%.2f s")
      (times, times.values.sum)
    }.map(_._1)

  def run(seconds: Double, trace: Boolean, r: Report.Result): Unit = {
    val outDir = work.resolve("mix-out")
    val (_, warmS) = timed(order(0).foreach(q => exec(q, r)(
      _.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(q).toString))))
    val oracles = SparkEntry.oracleSql.filter { case (q, _) => Queries.contains(q) }
    Files.writeString(outDir.resolve("oracle_sql.json"), oracles.map { case (q, sql) =>
      PostGen.q(q) + ":" + PostGen.q(sql) }.mkString("{", ",\n", "}"))
    r("setup_s") = warmS
    System.err.println(f"[perfbench] warm pass $warmS%.2f s")
    listener.settle()
    listener.reset()
    def perQuery(ps: Seq[Map[String, Double]]) = Queries.map(q => q -> Stats.median(ps.map(_(q)))).toMap
    def passS(ps: Seq[Map[String, Double]]) = Stats.median(ps.map(_.values.sum))
    if (!trace) {
      val ps = passes(new Tracer(runId, false, spark.sparkContext), seconds, r)
      val qs = perQuery(ps).values.toSeq
      r("throughput_per_s") = Queries.size / passS(ps)
      r("latency_p50_s") = Stats.median(qs)
      r("latency_geomean_s") = Stats.geomean(qs)
    } else {
      val u = passes(new Tracer(runId, false, spark.sparkContext), seconds / 2, r)
      listener.settle()
      listener.reset()
      val tr = new Tracer(runId, true, spark.sparkContext)
      val t = passes(tr, seconds / 2, r)
      listener.settle()
      r("bench.trace_overhead_ratio") = passS(t) / passS(u)
      perQuery(t).foreach { case (q, s) => r(s"query.${q}_s") = s }
      Report.Modules.foreach { m =>
        val tot = listener.totals(s"operators.$m")
        val n = t.size.toDouble
        r(s"operators.${m}_s") = t.map(_.collect { case (q, s) if moduleOf(q) == m => s }.sum).sum / n
        r(s"operators.${m}_jobs") = tot.jobs / n
        r(s"operators.${m}_shuffle_bytes") = tot.shuffleWriteBytes / n
        r(s"operators.${m}_spill_bytes") = tot.spillBytes / n
        r(s"operators.${m}_straggler_ratio") = tot.straggler
      }
      Tracer.write(work.resolve("spans.jsonl"), tr.all)
    }
  }
}

object Mix {
  /** Heavy iterative, LSH and graph queries (HITS, cross-corpus dedup,
    * Jaccard pairs) next to sub-second scan, sessionize and text queries,
    * from six operator modules, so `throughput_per_s` follows the heavy
    * ones and `latency_geomean_s` also moves with fixed per-query cost.
    * Six queries keep a run's warm pass and two timed passes near 40 s. */
  val Queries: Seq[String] = Seq(
    "q01_scan_project", "q33_sessionize", "text_sentiment", "dedup_cross_corpus",
    "q28a_jaccard_pairs", "q109_hits")
}

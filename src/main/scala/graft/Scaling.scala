package graft

/** Scaling-exponent audit main (r11, VERDICT item 2): times every
  * registered query at several scale factors IN ONE SESSION and prints
  * one JSON line — `tools/fit_scaling.py` then fits a per-query scaling
  * exponent (log time vs log rows; testdata row counts are ∝ sf across
  * all tables) and writes SCALING.md. This turns the 100 TB claims from
  * plan-shape arguments into measured slopes: an operator whose time
  * grows like n^1.5 at sf0.001→0.1 will not survive a 1000× scale-up,
  * however clean its plan looks.
  *
  * Usage: `runMain graft.Scaling [--queries a,b,c | --exclude a,b,c]
  * [sfDir ...]` (default the three TESTDATA.md dirs; `--queries`
  * restricts the run to a named subset — the r12 fourth-decade audit,
  * see tools/make_sf4.py — and `--exclude` runs everything BUT the
  * named set: the r12 full-surface sf1 smoke excludes only the
  * embeddings family, whose table does not scale by decades, and the
  * two declared designed-quadratics whose sf1 cost is the declared
  * quadratic, not a defect signal). Measurement design, learned the
  * hard way:
  *  - Per QUERY, the sfs are measured BACK-TO-BACK (largest first).
  *    Sweeping a whole sf before the next poisons the fit two ways: a
  *    smallest-first sweep charges all C2/codegen compilation to the
  *    small-sf points, and ANY fixed order lets in-JVM session aging
  *    (heap/GC growth over the ~15 min run) inflate whichever sf runs
  *    last — both showed up as phantom super-linear exponents on ~10-25
  *    queries. Interleaved, all three points share the same session age
  *    and the big-sf run absorbs JIT where it is proportionally
  *    smallest.
  *  - SPARK_GRAFT_SCALING_RUNS per-(query, sf) repeats (default 3; min
  *    reported), timed by Bench's own loop ([[Bench.timedRuns]]) with
  *    its [[Bench.ExtraRuns]] repeats and its cache isolation between
  *    runs, so per-dir memo builds (corpus_manifest, sim_pq_adc) charge
  *    the same entry they charge in Bench.
  */
object Scaling {
  def main(args: Array[String]): Unit = {
    val (queryFilter, excludeSet, dirArgs) = args.toSeq match {
      case "--queries" +: qs +: rest => (Some(qs.split(',').toSet), Set.empty[String], rest)
      case "--exclude" +: qs +: rest => (None, qs.split(',').toSet, rest)
      case rest => (None, Set.empty[String], rest)
    }
    val sfDirs = if (dirArgs.nonEmpty) dirArgs
      else Seq("/root/testdata/sf0.1", "/root/testdata/sf0.01", "/root/testdata/sf0.001")
    val spark = GraftSession()
    spark.range(100000).selectExpr("id % 32 AS k", "id AS v")
      .groupBy("k").count().write.format("noop").mode("overwrite").save()
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALING_RUNS", "3").toInt)
    def fmt(d: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, d)
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // per-query interleave: times[sfDir][name] = min seconds
    val times = sfDirs.map(d => d ->
      scala.collection.mutable.LinkedHashMap[String, Double]()).toMap
    (queryFilter.getOrElse(Set.empty) ++ excludeSet).foreach { q =>
      require(SparkEntry.queries.contains(q), s"query name not registered: $q")
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => queryFilter.forall(_.contains(n)) && !excludeSet.contains(n) }
      .foreach { case (name, fn) =>
      sfDirs.foreach { sfDir =>
        val runs = Bench.timedRuns(spark, fn, sfDir, Bench.runsFor(name, repeats),
          s"[scaling] $name@$sfDir")
        if (!runs.forall(_._2)) failed += s"$name@$sfDir"
        times(sfDir)(name) = if (runs.forall(_._2)) runs.map(_._1).min else -1.0
      }
    }
    val perSf = sfDirs.map { sfDir =>
      "\"" + sfDir + "\":" + times(sfDir).map { case (n, t) =>
        "\"" + n + "\":" + fmt(t)
      }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"scaling","runs":$repeats,"cpus":${GraftSession.cpus},"sfs":$perSf,"failed":$failedJson}""")
    spark.stop()
  }
}

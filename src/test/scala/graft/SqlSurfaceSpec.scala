package graft

import org.apache.spark.sql.DataFrame

/** The SQL face of the engine: every oracle text is engine-neutral SQL
  * that must run through `spark.sql` over the registered table views —
  * verbatim, via the graft.plans.DuckCompat aliases the session
  * extensions register — and produce the DataFrame builder's rows
  * exactly. Proves a reference user can keep their SQL while switching
  * engines (SURVEY §0) — and that the oracle texts describe the
  * queries, not a DuckDB-only paraphrase.
  *
  * Portability is the DEFAULT: a new query's oracle is expected to run
  * verbatim, and anything that can't must be excluded HERE with the
  * concrete blocker. (Maintenance loop: `runMain graft.SqlSweep
  * [names...]` tries texts through spark.sql and prints pass/fail.)
  *
  * Dialect rules the texts follow to stay portable (each verified by
  * running both engines): integer division is `divide(a, b)` (the `//`
  * operator is unparseable in Spark), list literals are `list_value`,
  * indexing/slicing is `list_extract`/`list_slice` (Spark brackets are
  * 0-based), arg-max is a row_number window (struct_pack's `:=` is
  * unparseable), 1-row CTEs arrive via CROSS JOIN (Spark rejects
  * subqueries inside higher-order-function lambdas), regex string
  * literals avoid backslash classes like `\s` (Spark literals eat the
  * backslash, DuckDB's don't), `regexp_extract_all` always passes the
  * group index (defaults differ: DuckDB 0, Spark 1), and day counts
  * come from `epoch_us` micros (datediff takes a quoted unit in DuckDB
  * but a keyword in Spark).
  *
  * Tagged [[org.scalatest.tags.Slow]]: the verbatim sweep re-executes
  * every oracle text through spark.sql AND its DataFrame builder —
  * ~22 min of the full suite's ~28 — so the default dev loop excludes
  * it (`sbt fastTest`, ~6 min) and the full matrix runs it pre-record
  * (`sbt test`). Per-query iteration uses `runMain graft.SqlSweep
  * <names>` instead, which is seconds.
  */
@org.scalatest.tags.Slow
class SqlSurfaceSpec extends SparkSpec {

  /** Oracle texts that CANNOT run through spark.sql, with the blocker.
    * Everything else must pass. */
  private val excluded: Map[String, String] = Map(
    "dedup_cluster" ->
      ("recursive closure CTE dedups rounds with plain UNION, which Spark " +
        "rejects (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE; UNION ALL would " +
        "not terminate on the cyclic near-dup graph)"),
    "dedup_cluster_build" -> "same recursive-UNION closure as dedup_cluster",
    "sample_split" -> "consumes dedup_cluster's recursive-UNION closure",
    "corpus_manifest" -> "consumes dedup_cluster's recursive-UNION closure",
    "dedup_keep_best" -> "consumes dedup_cluster's recursive-UNION closure",
    "dedup_savings" -> "consumes dedup_cluster's recursive-UNION closure",
    "text_dedup_distortion" -> "consumes dedup_cluster's recursive-UNION closure",
    "dedup_substring_cut" ->
      ("rebuilds the cut text with string_agg(tok, ' ' ORDER BY pos) — " +
        "in-aggregate ORDER BY is DuckDB/Postgres dialect Spark's parser " +
        "rejects, and Spark's collect_list has no deterministic order to " +
        "substitute"),
    "q58_user_journey" ->
      ("string_agg(event_type, '>' ORDER BY ts, event_id) — the same " +
        "in-aggregate ORDER BY dialect gap as dedup_substring_cut (the " +
        "builder uses the sort-structs-then-join formulation instead)"))

  test("every non-excluded oracle text runs verbatim through spark.sql " +
    "and matches the DataFrame builder") {
    Tables.registerAll(spark, Sf0001)
    val names = SparkEntry.oracleSql.keys.toSeq.sorted.filterNot(excluded.contains)
    assert(names.size >= 86, s"portable surface shrank: ${names.size}")
    // The sweep is embarrassingly parallel and each text is a small
    // sf0.001 job, so drive the shared session from a pool of 4 threads
    // per core — several texts in flight per core overlap one text's
    // driver-side planning with another's tasks (multi-threaded job
    // submission is a supported SparkSession pattern; the
    // process-lifetime memos are computeIfAbsent-safe).
    // Sequential, this test was 22 min of the 28-min full suite.
    // INVARIANT: query builders swept here must NOT mutate session conf —
    // the pool's threads share one SparkSession, so a builder that sets conf
    // (the BasketGuardSpec/DedupEvalSpec test pattern, which is fine in
    // those single-threaded specs) would race every concurrent builder
    // silently. All registered builders only READ conf; keep it that way.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4 * GraftSession.cpus)
    val failures =
      try {
        names.map { name =>
          pool.submit(new java.util.concurrent.Callable[Option[String]] {
            override def call(): Option[String] =
              try {
                val sqlText = SparkEntry.oracleSql(name)
                val viaSql: DataFrame = spark.sql(sqlText)
                val viaDf: DataFrame = SparkEntry.queries(name)(spark, Sf0001)
                val cols = viaDf.columns.sorted.toIndexedSeq
                val a = viaSql.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().toSeq
                val b = viaDf.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().toSeq
                if (a == b) None else Some(s"$name: ${a.size} vs ${b.size} rows or value mismatch")
              } catch {
                case e: Throwable =>
                  Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}")
              }
          })
        }.flatMap(_.get())
      } finally pool.shutdownNow() // interrupt stragglers too, not just stop intake
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the excluded list is not stale: excluded texts really do fail") {
    Tables.registerAll(spark, Sf0001)
    val wronglyExcluded = excluded.keys.toSeq.sorted.filter { name =>
      try {
        val viaSql = spark.sql(SparkEntry.oracleSql(name))
        val viaDf = SparkEntry.queries(name)(spark, Sf0001)
        val cols = viaDf.columns.sorted.toIndexedSeq
        val a = viaSql.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().toSeq
        val b = viaDf.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().toSeq
        a == b // ran AND matched → exclusion is stale
      } catch { case _: Throwable => false }
    }
    assert(wronglyExcluded.isEmpty,
      s"these run fine now — remove from `excluded`: $wronglyExcluded")
  }
}

package graft

import org.apache.spark.sql.functions._

/** Planted-data boundary proofs for the round-8 temporal operators.
  * The driver oracle gate runs them on organic testdata, where the
  * tie/boundary branches (exact-distance ties, tolerance edges,
  * same-instant events, duplicate-click collapse) may never actually
  * occur — these cases pin each documented rule on inputs built to hit
  * it. Tables are written in the standard events.parquet layout so the
  * registered QueryDefs run end-to-end, loader included.
  */
class TemporalEdgeSpec extends SparkSpec {
  import spark.implicits._

  /** rows: (event_id, user_id, epoch_seconds, event_type, value). */
  private def mkEvents(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-temporal-edge")
      .toAbsolutePath.toString
    rows.toDF("event_id", "user_id", "es", "event_type", "value")
      .withColumn("ts", col("es").cast("timestamp"))
      .select("event_id", "user_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val HalfHour = 1800L

  test("q74_asof_nearest: ties, tolerance edges, same-instant and duplicate clicks") {
    val base = 1000000L
    val dir = mkEvents(Seq(
      // P1: click at the SAME instant — visible backward, delta 0.
      (1L, 1L, base, "click", 1.00),
      (2L, 1L, base, "purchase", 9.99),
      // P2: equidistant clicks 10 s either side — backward must win.
      (3L, 1L, base + 1990, "click", 2.00),
      (4L, 1L, base + 2010, "click", 3.00),
      (5L, 1L, base + 2000, "purchase", 9.99),
      // P3: forward click EXACTLY at +30 min (inclusive tolerance);
      // backward click at -30 min - 1 s (outside) must be ignored.
      (6L, 1L, base + 9000 - HalfHour - 1, "click", 4.00),
      (7L, 1L, base + 9000 + HalfHour, "click", 5.00),
      (8L, 1L, base + 9000, "purchase", 9.99),
      // P4: no click within the window — NULL match survives as a row.
      (9L, 1L, base + 900000, "purchase", 9.99),
      // P5: DUPLICATE clicks at one instant — max event_id row's value.
      (10L, 2L, base, "click", 6.00),
      (11L, 2L, base, "click", 7.00),
      (12L, 2L, base + 60, "purchase", 9.99),
      // Another user's nearer click must never match user 2.
      (13L, 3L, base + 61, "click", 8.00)))
    val out = SparkEntry.queries("q74_asof_nearest")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    val us = 1000000L

    val p1 = out(2L)
    assert(p1.getString(4) == "backward" && p1.getLong(7) == 0L,
      "same-instant click is visible backward with delta 0")
    assert(p1.getLong(5) == 1L)

    val p2 = out(5L)
    assert(p2.getString(4) == "backward",
      "exact-distance tie prefers the backward candidate")
    assert(p2.getLong(3) == (base + 1990) * us && p2.getLong(5) == 3L)

    val p3 = out(8L)
    assert(p3.getString(4) == "forward",
      "forward click exactly at tolerance is included; outside-backward ignored")
    assert(p3.getLong(5) == 7L && p3.getLong(7) == -HalfHour * us)

    val p4 = out(9L)
    assert(p4.isNullAt(3) && p4.isNullAt(4) && p4.isNullAt(5),
      "cold-start purchase keeps a NULL match row")

    val p5 = out(12L)
    assert(p5.getLong(5) == 11L && p5.getLong(6) == 700L,
      "duplicate same-instant clicks collapse to the max-event_id row (value 7.00)")
  }

  test("q78_ewma: Horner weights and frame growth on a hand-computed stream") {
    val dir = mkEvents(Seq(
      (1L, 1L, 1000L, "view", 1.00),   // 100 cents
      (2L, 1L, 2000L, "view", 2.00),   // 200
      (3L, 1L, 3000L, "view", 3.00)))  // 300
    val out = SparkEntry.queries("q78_ewma")(spark, dir)
      .select("event_id", "n_terms", "ewma_num")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (1L, 100L))
    assert(out(2L) == (2L, 2L * 200 + 100))          // newest weight 2^1
    assert(out(3L) == (3L, 4L * 300 + 2 * 200 + 100)) // 4·v3 + 2·v2 + v1
  }

  test("q81_attribution: 7-day lookback edges and touch counting") {
    val week = 7L * 86400L
    val t = 10000000L
    val dir = mkEvents(Seq(
      (1L, 1L, t - week, "click", 1.00),     // exactly at the edge: included
      (2L, 1L, t - week - 1, "click", 2.00), // one second outside: excluded
      (3L, 1L, t - 100, "click", 3.00),      // last touch
      (4L, 1L, t, "purchase", 9.99)))
    val r = SparkEntry.queries("q81_attribution")(spark, dir).collect()
      .find(_.getLong(0) == 4L).get
    val us = 1000000L
    assert(r.getLong(3) == (t - week) * us, "first touch = the click exactly at -7d")
    assert(r.getLong(4) == 1L)
    assert(r.getLong(5) == (t - 100) * us, "last touch = the most recent click")
    assert(r.getLong(6) == 3L)
    assert(r.getLong(7) == 2L, "touches counts only in-window clicks")
  }

  test("q79_markov_transitions: hand-counted per-user pair counts") {
    val dir = mkEvents(Seq(
      (1L, 1L, 1000L, "a", 0.0), (2L, 1L, 2000L, "b", 0.0),
      (3L, 1L, 3000L, "a", 0.0), (4L, 1L, 4000L, "b", 0.0),
      // user 2 contributes one a->a pair; streams never mix users.
      (5L, 2L, 1000L, "a", 0.0), (6L, 2L, 2000L, "a", 0.0)))
    val out = SparkEntry.queries("q79_markov_transitions")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // user1 pairs: a->b, b->a, a->b; user2: a->a.
    assert(out(("a", "b")) == (2L, 3L, 666666666L))
    assert(out(("a", "a")) == (1L, 3L, 333333333L))
    assert(out(("b", "a")) == (1L, 1L, 1000000000L))
    assert(out.size == 3)
  }

  test("q89_funnel_latency: signups with no purchase read n_converted 0, not NULL") {
    val dir = mkEvents(Seq(
      (1L, 1L, 1000000L, "signup", 0.0),
      (2L, 2L, 1000060L, "signup", 0.0),
      (3L, 2L, 1000120L, "click", 1.0)))
    val rows = SparkEntry.queries("q89_funnel_latency")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val n = r.fieldIndex("n_converted")
    assert(!r.isNullAt(n) && r.getLong(n) == 0L, s"n_converted: ${r.get(n)}")
    Seq("min_s", "p50_s", "p90_s", "max_s", "mean_milli_s").foreach(c =>
      assert(r.isNullAt(r.fieldIndex(c)), s"$c must stay NULL, as the oracle's"))
  }
}

package graft

import org.apache.spark.sql.functions._

/** Planted-data proofs for the round-8 analytics/corpus-statistics
  * operators (q84–q86, text_zipf_slope, text_readability,
  * text_collocation_pmi, text_length_histogram, sim_centroid_drift).
  * Each test hand-computes the documented closed form on an input built
  * to hit the operator's boundary branches — values the organic-testdata
  * oracle gate cannot guarantee to exercise (exact-equality Gini poles,
  * a perfect power law, an exact 2× alarm edge, orthogonal centroids).
  * Tables are written in the standard parquet layouts so the registered
  * QueryDefs run end-to-end, loader included.
  */
class AnalyticsEdgeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toAbsolutePath.toString

  private def mkEvents(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    val dir = tmp("graft-analytics-ev")
    rows.toDF("event_id", "user_id", "es", "event_type", "value")
      .withColumn("ts", col("es").cast("timestamp"))
      .select("event_id", "user_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def mkDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = tmp("graft-analytics-doc")
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q86_gini_activity: equality pole is exactly 0, near-total " +
      "concentration matches the closed form") {
    // type "eq": 4 users x 3 events each -> G = 0 exactly.
    // type "top": users 1..4 with 1 event, user 5 with 96:
    //   sorted asc x = [1,1,1,1,96], n=5, S=100,
    //   T = 1+2+3+4+5*96 = 490, G = (2*490 - 6*100)/(5*100) = 0.76.
    var id = 0L
    def burst(u: Long, k: Int, typ: String, base: Long) =
      (1 to k).map { i => id += 1; (id, u, base + i, typ, 1.0) }
    val dir = mkEvents(
      (1L to 4L).flatMap(u => burst(u, 3, "eq", 1000000L)) ++
        (1L to 4L).flatMap(u => burst(u, 1, "top", 1000000L)) ++
        burst(5L, 96, "top", 1000000L))
    val out = SparkEntry.queries("q86_gini_activity")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("eq") == ((4L, 12L, 30L, 0L)),
      s"equal activity must be Gini 0: ${out("eq")}")
    assert(out("top") == ((5L, 100L, 490L, 760000L)),
      s"planted concentration must be 760000 ppm: ${out("top")}")
  }

  test("q84_dow_anomaly: a 2x-edge spike alarms only on its own weekday " +
      "baseline; same-count days stay flat") {
    // Four full weeks of 10 events/day for type "t", except ONE Tuesday
    // carrying 50. That Tuesday's own baseline becomes (10*3+50)/4 = 20
    // events -> the spike is 50 > 2*20 (alarm), while the other three
    // Tuesdays are 10 < 20 ("low") but NOT alarmed: 10*2 = 20 is not
    // strictly below 20 — the exact alarm-band edge. Non-Tuesday days
    // equal their baseline exactly ("flat").
    val dayS = 86400L
    // 2026-08-04 (a Tuesday) 00:00 UTC = 1785801600.
    val tue0 = 1785801600L
    var id = 0L
    def day(off: Long, k: Int) = (1 to k).map { i =>
      id += 1; (id, i.toLong, tue0 + off * dayS + i * 60, "t", 1.0)
    }
    val dir = mkEvents((0L until 28L).flatMap { off =>
      day(off, if (off == 7L) 50 else 10) // spike on the second Tuesday
    })
    val rows = SparkEntry.queries("q84_dow_anomaly")(spark, dir).collect()
    assert(rows.length == 28)
    rows.foreach { r =>
      val (dow, n, mean, dir0, alarm) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(6), r.getBoolean(7))
      if (dow == 2L) { // Tuesdays: baseline 20e6
        assert(mean == 20000000L, s"tuesday baseline: $r")
        if (n == 50L) assert(dir0 == "high" && alarm, s"spike must alarm: $r")
        else assert(n == 10L && dir0 == "low" && !alarm,
          s"10 vs 20 sits ON the 0.5x edge - no alarm: $r")
      } else {
        assert(mean == 10000000L && dir0 == "flat" && !alarm,
          s"uniform weekday must be flat: $r")
      }
    }
  }

  test("text_zipf_slope: a planted exact power law fits slope -1") {
    // 16 tokens with f(r) = 2^(5 - floor(log2 r)): y = 5 - x exactly at
    // every point, so the integer OLS slope is exactly -1 -> 1000 milli.
    val toks = (1 to 16).flatMap { r =>
      val f = 1 << (5 - (63 - java.lang.Long.numberOfLeadingZeros(r.toLong)))
      Seq.fill(f)(f"t$r%02d")
    }
    val dir = mkDocs(Seq((1L, toks.mkString(" "), "s")))
    val row = SparkEntry.queries("text_zipf_slope")(spark, dir).collect()(0)
    assert(row.getLong(0) == 16L, s"n_points: $row")
    assert(row.getLong(5) == 1000L, s"perfect Zipf must fit -1.000: $row")
  }

  test("text_readability: hand-counted Flesch battery") {
    // "The cat sat. The dog ran." -> 2 sentence runs, 6 words, 6 vowel
    // groups: wps = 3000 milli, spw = 1000 milli,
    // fre = 206835 - 1015*6/2 - 84600*6/6 = 206835 - 3045 - 84600 = 119190.
    val dir = mkDocs(Seq((1L, "The cat sat. The dog ran.", "s")))
    val r = SparkEntry.queries("text_readability")(spark, dir).collect()(0)
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((2L, 6L, 6L)), s"$r")
    assert((r.getLong(5), r.getLong(6), r.getLong(7)) == ((3000L, 1000L, 119190L)), s"$r")
  }

  test("text_collocation_pmi: bound pair scores by the closed form; " +
      "min-count floor drops a 4-count bigram") {
    // doc1 "new york" x6 -> bigrams (new,york) x6 and (york,new) x5;
    // doc2 "a b" x4 -> (a,b) x4 and (b,a) x3, both under the >=5 floor.
    // N = 11 + 7 = 18:
    //   pmi(new,york) = 6*18*1e6 / (6*6) = 3000000
    //   pmi(york,new) = 5*18*1e6 / (5*5) = 3600000
    val dir = mkDocs(Seq(
      (1L, Seq.fill(6)("new york").mkString(" "), "s"),
      (2L, Seq.fill(4)("a b").mkString(" "), "s")))
    val out = SparkEntry.queries("text_collocation_pmi")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(5))).toMap
    assert(out.keySet == Set(("new", "york"), ("york", "new")),
      s"floor must drop the 4-count pair: ${out.keySet}")
    assert(out(("new", "york")) == ((6L, 3000000L)))
    assert(out(("york", "new")) == ((5L, 3600000L)))
  }

  test("text_length_histogram: power-of-2 buckets and exact ppm shares") {
    // docs of 1, 2, 3, 8 tokens -> buckets lg2 = 0 {1}, 1 {2,3}, 3 {8};
    // d_all = 4, t_all = 14.
    val dir = mkDocs(Seq(
      (1L, "a", "s"), (2L, "a b", "s"), (3L, "a b c", "s"),
      (4L, "a b c d e f g h", "s")))
    val out = SparkEntry.queries("text_length_histogram")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set(0L, 1L, 3L))
    assert(out(0L) == ((1L, 1L, 250000L, 71428L)))
    assert(out(1L) == ((2L, 5L, 500000L, 357142L)))
    assert(out(3L) == ((1L, 8L, 250000L, 571428L)))
  }

  test("q85_cohort_ltv: hand-computed two-customer cohort curve") {
    // customers 1 and 2 both first-order in 1995-01 (cohort size 2):
    // age 0 revenue 100.00 + 200.00 = 30000 cents -> ltv 15000/user;
    // age 1 revenue 50.00 -> cum 35000 -> ltv 17500/user.
    val dir = tmp("graft-analytics-ord")
    Seq(
      (1L, 1L, "F", 100.00, "1995-01-10", "1-URGENT"),
      (2L, 2L, "F", 200.00, "1995-01-20", "1-URGENT"),
      (3L, 1L, "F", 50.00, "1995-02-05", "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "od", "o_orderpriority")
      .withColumn("o_orderdate", col("od").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q85_cohort_ltv")(spark, dir)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(0L) == ((2L, 30000L, 30000L, 15000L)), s"age 0: ${out(0L)}")
    assert(out(1L) == ((2L, 5000L, 35000L, 17500L)), s"age 1: ${out(1L)}")
  }

  test("q88_fk_orphans: planted orphans are counted; clean edges read 0") {
    // The organic testdata is referentially clean (the registered run
    // reads 0 everywhere) — this plants one orphaned order custkey and
    // one orphaned lineitem partkey and proves they surface with exact
    // ppm, while the other five edges stay 0.
    val dir = tmp("graft-analytics-fk")
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write("region", Seq((0, "r")).toDF("r_regionkey", "r_name"))
    write("nation", Seq((0, "n", 0)).toDF("n_nationkey", "n_name", "n_regionkey"))
    write("customer", Seq((1L, "c1", 0, 0.0, "m"), (2L, "c2", 0, 0.0, "m"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    write("supplier", Seq((1L, "s1", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    write("part", Seq((1L, "p1", "b", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
    write("orders", Seq(
      (1L, 1L, "F", 1.0, "1995-01-01", "1"), (2L, 2L, "F", 1.0, "1995-01-01", "1"),
      (3L, 99L, "F", 1.0, "1995-01-01", "1")) // orphan custkey
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "od", "o_orderpriority")
      .withColumn("o_orderdate", col("od").cast("timestamp")).drop("od"))
    write("lineitem", Seq(
      (1L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-02"),
      (2L, 77L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-02")) // orphan partkey
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "sd")
      .withColumn("l_shipdate", col("sd").cast("timestamp")).drop("sd"))
    val out = SparkEntry.queries("q88_fk_orphans")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("orders.o_custkey->customer") == ((3L, 1L, 333333L)), s"$out")
    assert(out("lineitem.l_partkey->part") == ((2L, 1L, 500000L)), s"$out")
    Seq("customer.c_nationkey->nation", "lineitem.l_orderkey->orders",
      "lineitem.l_suppkey->supplier", "nation.n_regionkey->region",
      "supplier.s_nationkey->nation").foreach { rel =>
      assert(out(rel)._2 == 0L && out(rel)._3 == 0L, s"$rel must be clean: $out")
    }
  }

  test("q91_mann_kendall: planted monotone series are significant, " +
      "a flat series is all ties and no_trend") {
    // type "up": 10 days with counts 1..10 -> every pair concordant,
    //   S = 45, 18*45^2 = 36450 > 4*10*9*25 = 9000 -> increasing.
    // type "down": mirrored -> S = -45 -> decreasing.
    // type "flat": 5 days x 2 events -> S = 0, 10 ties -> no_trend.
    val dayS = 86400L
    val base = 1785801600L
    var id = 0L
    def day(off: Int, k: Int, typ: String) = (1 to k).map { i =>
      id += 1; (id, i.toLong, base + off * dayS + i * 60, typ, 1.0)
    }
    val dir = mkEvents(
      (0 until 10).flatMap(o => day(o, o + 1, "up")) ++
        (0 until 10).flatMap(o => day(o, 10 - o, "down")) ++
        (0 until 5).flatMap(o => day(o, 2, "flat")))
    val out = SparkEntry.queries("q91_mann_kendall")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6), r.getString(7))).toMap
    assert(out("up") == ((10L, 45L, 45L, 0L, 0L, true, "increasing")), s"$out")
    assert(out("down") == ((10L, -45L, 0L, 45L, 0L, true, "decreasing")), s"$out")
    assert(out("flat") == ((5L, 0L, 0L, 0L, 10L, false, "no_trend")), s"$out")
  }

  test("q90_ivm_join: all four delta-join terms contribute and the union " +
      "matches the hand-counted one-shot join") {
    // customers: 1, 2 base; 7 delta (7 % 7 == 0). orders: keys 1-3 base,
    // 10, 20 delta. Pairings hit all four algebra terms:
    //   baseO(1)⋈baseC(1), baseO(2)⋈baseC(2), baseO(3)⋈deltaC(7),
    //   deltaO(10)⋈baseC(1), deltaO(20)⋈deltaC(7).
    val dir = tmp("graft-analytics-ivm")
    Seq((1L, "c1", 0, 0.0, "A"), (2L, "c2", 0, 0.0, "B"), (7L, "c7", 0, 0.0, "A"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((1L, 1L, 10.00), (2L, 2L, 20.00), (3L, 7L, 40.00),
      (10L, 1L, 80.00), (20L, 7L, 160.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .withColumn("o_orderstatus", lit("F"))
      .withColumn("o_orderdate", lit("1995-01-01").cast("timestamp"))
      .withColumn("o_orderpriority", lit("1"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q90_ivm_join")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // A: orders 1 (10.00) + 3 (40.00) + 10 (80.00) + 20 (160.00) = 29000 c
    // B: order 2 (20.00) = 2000 c
    assert(out("A") == ((4L, 29000L)), s"$out")
    assert(out("B") == ((1L, 2000L)), s"$out")
  }

  test("q93_theilsen_slope: a perfect line fits exactly; one outlier day " +
      "cannot move the median") {
    // type "lin": n = 10 + 2*day over 10 days -> every pairwise slope is
    // exactly 2000 milli. type "out": same line but day 5 carries 100
    // events -> 36 of 45 pair slopes are still 2000, so the median holds
    // at 2000.0 while min/max are dragged far out (robustness).
    val dayS = 86400L
    val base = 1785801600L
    var id = 0L
    def day(off: Int, k: Int, typ: String) = (1 to k).map { i =>
      id += 1; (id, i.toLong, base + off * dayS + i * 60, typ, 1.0)
    }
    val dir = mkEvents(
      (0 until 10).flatMap(o => day(o, 10 + 2 * o, "lin")) ++
        (0 until 10).flatMap(o => day(o, if (o == 5) 100 else 10 + 2 * o, "out")))
    val out = SparkEntry.queries("q93_theilsen_slope")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("lin") == ((45L, 2000.0, 2000L, 2000L)), s"$out")
    assert(out("out")._2 == 2000.0 && out("out")._3 < 0L && out("out")._4 > 2000L,
      s"median must resist the outlier while min/max swing: $out")
  }

  test("q92_punchcard: planted cells carry exact counts and ppm shares") {
    // 3 events Tue 10:xx, 1 event Wed 11:xx -> shares 750000 / 250000.
    val tue10 = 1785801600L + 10 * 3600L // 2026-08-04 10:00 UTC (Tuesday)
    val wed11 = 1785801600L + 86400L + 11 * 3600L
    val dir = mkEvents(Seq(
      (1L, 1L, tue10 + 60, "t", 1.00), (2L, 2L, tue10 + 120, "t", 2.00),
      (3L, 3L, tue10 + 180, "t", 3.00), (4L, 4L, wed11 + 60, "t", 4.00)))
    val out = SparkEntry.queries("q92_punchcard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set((2L, 10L), (3L, 11L)))
    assert(out((2L, 10L)) == ((3L, 600L, 750000L)), s"$out")
    assert(out((3L, 11L)) == ((1L, 400L, 250000L)), s"$out")
  }

  test("q94_audience_overlap: hand-counted Jaccard; disjoint audiences " +
      "surface as explicit zero rows") {
    // A users {1,2,3}, B users {2,3,4} -> |A∩B| = 2, |A∪B| = 4 -> 500000.
    // C user {9} is disjoint from both -> rows (A,C) and (B,C) must
    // EXIST with n_both = 0 (the silent-omission bug the pair grid
    // exists to prevent).
    var id = 0L
    def ev(u: Long, typ: String) = { id += 1; (id, u, 1000000L + id, typ, 1.0) }
    val dir = mkEvents(
      Seq(1L, 2L, 3L).map(ev(_, "A")) ++ Seq(2L, 3L, 4L).map(ev(_, "B")) ++
        Seq(ev(9L, "C"), ev(2L, "A"))) // duplicate presence must not double-count
    val out = SparkEntry.queries("q94_audience_overlap")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(("A", "B")) == ((3L, 3L, 2L, 500000L)), s"$out")
    assert(out(("A", "C")) == ((3L, 1L, 0L, 0L)), s"disjoint row must exist: $out")
    assert(out(("B", "C")) == ((3L, 1L, 0L, 0L)), s"disjoint row must exist: $out")
  }

  test("text_langid_eval: confusion cells match hand-placed marker words") {
    // docs: two true-en docs predicted en; one es-labeled doc whose text
    // is English markers -> cell (es, en); one es doc with es markers.
    val dir = tmp("graft-analytics-lid")
    Seq(
      (1L, "the a table", "en"), (2L, "the data table", "en"),
      (3L, "the a the a", "es"), (4L, "row batch row", "es"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_langid_eval")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(("en", "en")) == ((2L, 2L, 1000000L)), s"$out")
    assert(out(("es", "en")) == ((1L, 2L, 500000L)), s"$out")
    assert(out(("es", "es")) == ((1L, 2L, 500000L)), s"$out")
  }

  test("q95_autocorr7: a period-7 series reads exactly 1.0, a period-14 " +
      "square wave reads exactly -1.0") {
    // type "per7": counts cycle [10,20,30,40,50,60,70] over 21 days ->
    // every lag-7 pair has x = y -> r7 = 1.0 exactly.
    // type "anti": 7 days of 10, 7 of 2, 7 of 10 -> lag-7 pairs are the
    // two symmetric points (10,2)/(2,10) -> r7 = -1.0 exactly
    // (num = -3136, den = sqrt(3136)*sqrt(3136) = 3136).
    val dayS = 86400L
    val base = 1785801600L
    var id = 0L
    def day(off: Int, k: Int, typ: String) = (1 to k).map { i =>
      id += 1; (id, i.toLong, base + off * dayS + i * 60, typ, 1.0)
    }
    val dir = mkEvents(
      (0 until 21).flatMap(o => day(o, (o % 7 + 1) * 10, "per7")) ++
        (0 until 21).flatMap(o => day(o, if (o / 7 == 1) 2 else 10, "anti")))
    val out = SparkEntry.queries("q95_autocorr7")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(7))).toMap
    assert(out("per7") == ((14L, 1.0)), s"$out")
    assert(out("anti") == ((14L, -1.0)), s"$out")
  }

  test("q96_price_size_ols: a planted exact line recovers its slope") {
    // price_c = 500 + 250*size -> slope_milli = 250000 exactly.
    val dir = tmp("graft-analytics-ols")
    Seq((1L, 1), (2L, 2), (3L, 3), (4L, 4)).map { case (k, sz) =>
      (k, s"p$k", "b", "t", sz, (500 + 250 * sz) / 100.0)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
    val r = SparkEntry.queries("q96_price_size_ols")(spark, dir).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(7) == 250000L, s"$r")
  }

  test("q97_drift_tv: fully-diverged planted snapshots read TV = 1; " +
      "one-sided buckets surface as explicit zero rows") {
    // even ids all land in bucket 0 (0.50 -> 50 cents), odd ids all in
    // bucket 1 (15.00 -> 1500 cents; buckets are 1000-cent wide) ->
    // each side's share is 1e6 in ITS bucket, 0 in the other's;
    // abs_diff is 1e6 in both rows, so TV = sum/2 = 1e6 ppm.
    val dir = mkEvents(Seq(
      (2L, 1L, 1000000L, "t", 0.50), (4L, 2L, 1000001L, "t", 0.50),
      (1L, 3L, 1000002L, "t", 15.00), (3L, 4L, 1000003L, "t", 15.00)))
    val out = SparkEntry.queries("q97_drift_tv")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.keySet == Set(0L, 1L), s"one-sided buckets must appear: $out")
    assert(out(0L) == ((2L, 0L, 1000000L, 0L, 1000000L)), s"$out")
    assert(out(1L) == ((0L, 2L, 0L, 1000000L, 1000000L)), s"$out")
    assert(out.values.map(_._5).sum / 2 == 1000000L, "TV must be exactly 1")
  }

  test("sim_centroid_drift: orthogonal centroids read 0, identical read 1") {
    val dir = tmp("graft-analytics-emb")
    // label 0: all (1,0); label 1: all (0,1); label 2: all (1,0).
    Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.0f, 1.0f), 1),
      (5L, Array(1.0f, 0.0f), 2), (6L, Array(1.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("sim_centroid_drift")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(6)).toMap
    assert(out((0, 1)) == 0.0 && out((1, 2)) == 0.0, s"orthogonal: $out")
    assert(out((0, 2)) == 1.0, s"identical centroids: $out")
  }

  test("dedup_keep_best picks the richest member over the first; " +
      "dedup_savings books keep-first token savings exactly") {
    // docs 10/11 are near-dups (Jaccard 10/12 ≈ 0.83 ≥ 0.8): 11 is the
    // FULL copy (12 distinct tokens), 10 the truncated paste that
    // arrived first (min doc_id = the cluster label). Keep-first would
    // keep 10; keep-best must keep 11. doc 20 is a singleton.
    val dir = mkDocs(Seq(
      (10L, "a b c d e f g h i j", "s"),
      (11L, "a b c d e f g h i j k l", "s"),
      (20L, "z y x w v u t", "s")))
    val kb = SparkEntry.queries("dedup_keep_best")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(4), r.getBoolean(5))).toMap
    assert(kb(10L) == ((10L, 11L, false)), s"truncated copy must lose: $kb")
    assert(kb(11L) == ((10L, 11L, true)), s"full copy must be canonical: $kb")
    assert(kb(20L) == ((20L, 20L, true)), s"singleton keeps itself: $kb")
    // savings (keep-FIRST policy): kept = {10, 20}; tokens 10+12+7 = 29
    // total, 10+7 = 17 kept -> saved = 12e6 div 29 = 413793 ppm.
    val sv = SparkEntry.queries("dedup_savings")(spark, dir).collect()
    assert(sv.length == 1)
    val r = sv(0)
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == (("s", 3L, 2L, 29L, 17L, 413793L)), s"${r}")
  }

  test("dedup_minhash_error: an identical pair reads estimate 8/8, " +
      "exact Jaccard 1, zero error and zero bias") {
    // Identical docs collide in every band and agree on every signature
    // component; any disagreement here would mean the Spark and oracle
    // hash pipelines diverged. The unrelated third doc shares no token,
    // so if banding ever pairs it the j_ppm pulls below 1e6 and this
    // exact assertion catches it.
    val dir = mkDocs(Seq(
      (1L, "alpha beta gamma delta epsilon", "s"),
      (2L, "alpha beta gamma delta epsilon", "s"),
      (9L, "zeta eta theta iota kappa", "s")))
    val out = SparkEntry.queries("dedup_minhash_error")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.contains(8L), s"identical pair must collide at 8/8: $out")
    assert(out(8L) == ((1000000L, 1L, 1000000L, 0L, 0L)), s"$out")
  }

  test("sim_hard_negatives: an identical same-label vector is excluded; " +
      "cross-label neighbors rank by exact cosine") {
    // Query 0 (label 0) has an IDENTICAL twin 30 with the SAME label —
    // it must not appear (same-label exclusion is the whole point).
    // Cross-label: 31 identical (sim 1.0), 33 at cosine 0.6, 32
    // orthogonal (0.0) -> ranks 1..3 exactly.
    val dir = tmp("graft-analytics-hn")
    Seq(
      (0L, Array(1.0f, 0.0f), 0), (30L, Array(1.0f, 0.0f), 0),
      (31L, Array(1.0f, 0.0f), 1), (32L, Array(0.0f, 1.0f), 1),
      (33L, Array(0.6f, 0.8f), 2))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("sim_hard_negatives")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getLong(4), r.getDouble(5)))
    assert(rows.toSeq == Seq(
      (0L, 0, 31L, 1, 1L, 1.0),
      (0L, 0, 33L, 2, 2L, 0.6),
      (0L, 0, 32L, 1, 3L, 0.0)), s"${rows.toSeq}")
  }

  test("q100_kanonymity: band sizes are exact and a negative balance " +
      "does not straddle the zero band") {
    // nation 1: one unique person (k=1). nation 2: three sharing the QI
    // (k=2-4). nation 3: twelve sharing (k>=10). nation 4: two people
    // at -500.00 and +500.00 — the +100000 shift must put them in
    // DIFFERENT bands (two more k=1 rows); an unshifted truncating div
    // would collapse both into band 0 and report a fake k=2.
    val dir = tmp("graft-analytics-kanon")
    val rows = Seq((1, 500.00)) ++ (1 to 3).map(_ => (2, 500.00)) ++
      (1 to 12).map(_ => (3, 500.00)) ++ Seq((4, -500.00), (4, 500.00))
    rows.zipWithIndex.map { case ((nk, bal), i) =>
      (i.toLong, s"c$i", nk, bal, "X")
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("q100_kanonymity")(spark, dir)
      .collect().map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("k=1") == ((3L, 3L, 166666L)), s"$out")
    assert(out("k=2-4") == ((1L, 3L, 166666L)), s"$out")
    assert(out("k>=10") == ((1L, 12L, 666666L)), s"$out")
    assert(!out.contains("k=5-9"), s"$out")
  }

  test("q101_fd_audit: a holding FD reads g3 = 0; one planted variant " +
      "row costs exactly one delete") {
    // documents: source 'a' is lang-pure (FD holds); source 'b' has 3 en
    // + 1 es -> majority-keep leaves ONE delete. The four 1-row tables
    // exercise the g3 = 0 pole on every other edge.
    val dir = tmp("graft-analytics-fd")
    (Seq((1L, "t", "en", "a"), (2L, "t", "en", "a"), (3L, "t", "en", "a"),
      (4L, "t", "en", "b"), (5L, "t", "en", "b"), (6L, "t", "en", "b"),
      (7L, "t", "es", "b")))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((1L, 1L, "O", 10.0, new java.sql.Timestamp(0L), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1L, 1L, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", new java.sql.Timestamp(0L)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, 1L, new java.sql.Timestamp(1000000L), "click", 1.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq((1L, "c1", 1, 0.0, "X"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("q101_fd_audit")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out("documents.source->lang") == ((7L, 2L, 1L, 1L, 142857L)), s"$out")
    assert(out("orders.o_custkey->o_orderpriority") == ((1L, 1L, 0L, 0L, 0L)), s"$out")
    assert(out("events.user_id->event_type") == ((1L, 1L, 0L, 0L, 0L)), s"$out")
    assert(out("customer.c_nationkey->c_mktsegment") == ((1L, 1L, 0L, 0L, 0L)), s"$out")
    assert(out("lineitem.l_partkey->l_suppkey") == ((1L, 1L, 0L, 0L, 0L)), s"$out")
  }

  test("q102_basket_lift: hand-counted support/confidence/lift; " +
      "never-co-bought pairs surface as explicit zero rows") {
    // Baskets: {A,B}, {A,B}, {A}, {D}. A appears twice in basket 1 —
    // presence must dedup it. (A,B): support 2/4, conf A->B 2/3,
    // conf B->A 1, lift 2·4/(3·2) = 1.333. (A,D) and (B,D) never
    // co-occur -> explicit zero rows with lift 0.
    val dir = tmp("graft-analytics-bl")
    Seq((1L, "pA", "A", "t", 1, 1.0), (2L, "pB", "B", "t", 1, 1.0),
      (3L, "pD", "D", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (4L, 3L))
      .zipWithIndex.map { case ((ok, pk), i) =>
        (ok, pk, 1L, i + 1, 1.0, 10.0, 0.0, 0.0, "N", "O",
          new java.sql.Timestamp(0L))
      }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q102_basket_lift")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    assert(out(("A", "B")) == ((3L, 2L, 2L, 500000L, 666666L, 1000000L, 1333L)), s"$out")
    assert(out(("A", "D")) == ((3L, 1L, 0L, 0L, 0L, 0L, 0L)), s"zero row must exist: $out")
    assert(out(("B", "D")) == ((2L, 1L, 0L, 0L, 0L, 0L, 0L)), s"zero row must exist: $out")
  }

  test("q98_ks_pairwise: disjoint supports read D = 1 exactly at the " +
      "crossover cent; identical distributions read D = 0") {
    // "lo" and "same": 5 events at 1.00 + 5 at 2.00 each (identical).
    // "hi": 5 at 3.00 + 5 at 4.00 — entirely above both.
    // Pair (hi, lo): CDF_lo hits 1 at c=200 while CDF_hi is still 0
    // -> d_ppm = 1000000 at d_at_cents = 200, significant (D = 1 vs
    // threshold 1.358·sqrt(20/100) ≈ 0.607).
    // Pair (lo, same): identical -> d_ppm = 0, not significant; the
    // deterministic argmax composite resolves to the SMALLEST grid
    // cent (100) when every diff ties at 0.
    var id = 0L
    def ev(typ: String, v: Double) = { id += 1; (id, id, 1000000L + id, typ, v) }
    def ten(typ: String, v1: Double, v2: Double) =
      (1 to 5).map(_ => ev(typ, v1)) ++ (1 to 5).map(_ => ev(typ, v2))
    val dir = mkEvents(
      ten("lo", 1.00, 2.00) ++ ten("same", 1.00, 2.00) ++ ten("hi", 3.00, 4.00))
    val out = SparkEntry.queries("q98_ks_pairwise")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    assert(out(("hi", "lo")) == ((10L, 10L, 1000000L, 200L, true)), s"$out")
    assert(out(("hi", "same")) == ((10L, 10L, 1000000L, 200L, true)), s"$out")
    assert(out(("lo", "same")) == ((10L, 10L, 0L, 100L, false)), s"$out")
  }

  test("q98_ks_pairwise: negative and >$1000 cents — the shifted-span " +
      "argmax picks the true divergence cent outside [0, 1e5)") {
    // The case the oracle gate structurally cannot catch (both engines
    // share the formula): a value domain spanning -7.00 .. 4000.00.
    // A: {-7.00, -5.00, 4000.00}, B: {-5.00, -5.00, 2500.00}, t = 3
    // each. Grid cents {-700, -500, 250000, 400000}; truncating ppm
    // CDF diffs: 333333 at -700, 0 at -500, 333334 at 250000, 0 at
    // 400000 — d_ppm = 333334 with its UNIQUE argmax at c = 250000.
    // The pre-r9 fixed-1e5 composite (valid only for 0 ≤ c < 1e5)
    // would have reported d_at_cents = 99300 — not even a grid cent.
    // significant: 0.333 < 1.358·sqrt(6/9) ≈ 1.109 → false.
    val dir = mkEvents(Seq(
      (1L, 1L, 1000000L, "A", -7.00), (2L, 1L, 1000001L, "A", -5.00),
      (3L, 1L, 1000002L, "A", 4000.00),
      (4L, 2L, 1000003L, "B", -5.00), (5L, 2L, 1000004L, "B", -5.00),
      (6L, 2L, 1000005L, "B", 2500.00)))
    val out = SparkEntry.queries("q98_ks_pairwise")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    assert(out(("A", "B")) == ((3L, 3L, 333334L, 250000L, false)), s"$out")
  }

  test("q99_mannwhitney: complete dominance reads u2 = 2·t_a·t_b and " +
      "rank-biserial +1; identical distributions read exactly 0") {
    // Same planted corpus as the KS test. Pair (hi, lo): every hi value
    // beats every lo value -> U_a = t_a·t_b = 100 -> u2_a = 200,
    // rb_ppm = +1000000; tie masses are four cents of 5 each
    // -> sum_ties = 4·(125−5) = 480; z = 100/(2·sqrt((100/12)·(21 −
    // 480/380))) — recomputed here by the same closed form.
    // Pair (lo, same): identical -> u2_a = t_a·t_b = 100, rb 0, z 0;
    // sum_ties = 2·(1000−10) = 1980 (both sides stack on each cent).
    var id = 0L
    def ev(typ: String, v: Double) = { id += 1; (id, id, 1000000L + id, typ, v) }
    def ten(typ: String, v1: Double, v2: Double) =
      (1 to 5).map(_ => ev(typ, v1)) ++ (1 to 5).map(_ => ev(typ, v2))
    val dir = mkEvents(
      ten("lo", 1.00, 2.00) ++ ten("same", 1.00, 2.00) ++ ten("hi", 3.00, 4.00))
    val out = SparkEntry.queries("q99_mannwhitney")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getDouble(7), r.getBoolean(8))).toMap
    val zDom = BigDecimal(100.0 / (2.0 * math.sqrt((100.0 / 12.0) *
      (21.0 - 480.0 / (20.0 * 19.0)))))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(("hi", "lo")) == ((10L, 10L, 200L, 480L, 1000000L, zDom, true)), s"$out")
    assert(out(("hi", "same")) == ((10L, 10L, 200L, 480L, 1000000L, zDom, true)), s"$out")
    assert(out(("lo", "same")) == ((10L, 10L, 100L, 1980L, 0L, 0.0, false)), s"$out")
  }

  test("text_source_overlap: disjoint vocabularies surface as an explicit " +
      "zero row; a contained vocabulary reads overlap 1") {
    // vocabularies: s1 {a, b, c}, s2 {x, y} (disjoint from both others),
    // s3 {a, b} (inside s1). (s1, s3): |∩| = 2, |∪| = 3 -> Jaccard
    // 2e6 div 3 = 666666, overlap 2e6 div min(3, 2) = 1000000.
    val dir = mkDocs(Seq(
      (1L, "a b c", "s1"), (2L, "a b", "s1"), (3L, "x y", "s2"),
      (4L, "y x y", "s2"), (5L, "b a", "s3")))
    val out = SparkEntry.queries("text_source_overlap")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out.size == 3, s"$out")
    assert(out(("s1", "s2")) == ((3L, 2L, 0L, 0L, 0L)), s"zero row must exist: $out")
    assert(out(("s2", "s3")) == ((2L, 2L, 0L, 0L, 0L)), s"zero row must exist: $out")
    assert(out(("s1", "s3")) == ((3L, 2L, 2L, 666666L, 1000000L)), s"$out")
  }

  test("text_source_tv: disjoint sources read TV = 1 over the union " +
      "vocabulary; identical distributions read 0") {
    // p: a, b once each (500000 ppm shares); q: w, x, y, z once each
    // (250000 each); r: same shares as p. (p, q) share nothing:
    // Σ|Δ| = 2·500000 + 4·250000 = 2000000 -> tv 1000000 over the
    // 6-token union. (p, r): tv 0 over {a, b}.
    val dir = mkDocs(Seq(
      (1L, "a b", "p"), (2L, "w x y z", "q"), (3L, "b b a a", "r")))
    val out = SparkEntry.queries("text_source_tv")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out.size == 3, s"$out")
    assert(out(("p", "q")) == ((6L, 1000000L)), s"$out")
    assert(out(("q", "r")) == ((6L, 1000000L)), s"$out")
    assert(out(("p", "r")) == ((2L, 0L)), s"$out")
  }

  test("pair-grid queries over a single event type return zero rows") {
    val dir = mkEvents(Seq(
      (1L, 1L, 1000000L, "only", 1.00), (2L, 2L, 1000001L, "only", 2.50),
      (3L, 1L, 1000002L, "only", 4.00)))
    for (q <- Seq("q94_audience_overlap", "q98_ks_pairwise",
        "q99_mannwhitney", "q106_welch_ttest")) {
      val rows = SparkEntry.queries(q)(spark, dir).collect()
      assert(rows.isEmpty, s"$q: ${rows.toSeq}")
    }
  }
}

package graft.operators

import graft.{QueryDef, Qh}
import graft.schema.Models.SummaryThreshold
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational query surface Q1–Q26 (SURVEY.md §2.2).
  *
  * Each query is declared with the DataFrame API so Catalyst gets the full
  * logical plan (predicate pushdown, column pruning, join selection, AQE).
  * Every query ends with an ORDER BY over a unique key set; doubles derive
  * from exact integer arithmetic (see [[graft.Qh]]) so the DuckDB oracle
  * hash-matches bit-for-bit.
  *
  * Reference justifications cite /root/reference (see SURVEY.md §2.2).
  */
object Relational {
  import Qh._

  val defs: Seq[(String, QueryDef)] = Seq(

    // Q1 — scan + project + rename (reference T8/T9 projections,
    // internal/producer/fetch.go:184-198).
    "q01_scan_project" -> QueryDef(
      (s, d) => tbl(s, d, "region")
        .select(col("r_regionkey"), col("r_name").as("region_name"))
        .orderBy("r_regionkey"),
      Some("SELECT r_regionkey, r_name AS region_name FROM region ORDER BY r_regionkey")),

    // Q2 — conjunctive filter, pushed to the parquet scan
    // (reference T6/T10 predicates, internal/producer/fetch.go:157).
    "q02_filter" -> QueryDef(
      (s, d) => tbl(s, d, "lineitem")
        .filter(col("l_quantity") > 30 && col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_shipdate").cast("date").as("ship_day"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, CAST(l_shipdate AS DATE) AS ship_day
             |FROM lineitem WHERE l_quantity > 30 AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Q3 — length-threshold routing counts; strict > SummaryThreshold
    // mirrors the reference router (internal/consumers/raw_content_consumer.go:14,55).
    "q03_length_route" -> QueryDef(
      (s, d) => tbl(s, d, "documents")
        .groupBy("source")
        .agg(
          sum(when(length(col("text")) > SummaryThreshold, 1L).otherwise(0L)).as("long_docs"),
          sum(when(length(col("text")) <= SummaryThreshold, 1L).otherwise(0L)).as("short_docs"),
          count(lit(1)).as("n"))
        .orderBy("source"),
      Some(s"""SELECT source,
             |  CAST(SUM(CASE WHEN length(text) > $SummaryThreshold THEN 1 ELSE 0 END) AS BIGINT) AS long_docs,
             |  CAST(SUM(CASE WHEN length(text) <= $SummaryThreshold THEN 1 ELSE 0 END) AS BIGINT) AS short_docs,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // Q4 — hash inner join on key (reference T16 score join,
    // internal/consumers/sentiment_analysis_consumer.go:64-79).
    "q04_join_inner" -> QueryDef(
      (s, d) => tbl(s, d, "orders")
        .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, c_name, o_totalprice FROM orders
             |JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey""".stripMargin)),

    // Q5 — broadcast dimension join (reference T3 category→subreddits dim,
    // internal/producer/fetch.go:19-46). The tiny dim side is explicitly
    // broadcast: no shuffle of the fact side at any scale.
    "q05_join_broadcast_dim" -> QueryDef(
      (s, d) => tbl(s, d, "nation")
        .join(broadcast(tbl(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("n_nations"))
        .orderBy("r_name"),
      Some("""SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_nations FROM nation
             |JOIN region ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // Q6 — left outer join, missing key keeps row with NULLs (reference
    // T16 zero-value row, sentiment_analysis_consumer.go:66-79). Customers
    // with non-positive balance are filtered from the right side so real
    // NULLs appear.
    "q06_join_left_outer" -> QueryDef(
      (s, d) => tbl(s, d, "orders")
        .join(tbl(s, d, "customer").filter(col("c_acctbal") > 0),
          col("o_custkey") === col("c_custkey"), "left_outer")
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, c_name, o_totalprice FROM orders
             |LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c ON o_custkey = c_custkey
             |ORDER BY o_orderkey""".stripMargin)),

    // Q7 — left anti join (reference T20 filterAgainstStored,
    // internal/topic_generation/topic_generation.go:219-236).
    "q07_join_anti" -> QueryDef(
      (s, d) => tbl(s, d, "part")
        .join(tbl(s, d, "lineitem"), col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
             |ORDER BY p_partkey""".stripMargin)),

    // Q8 — left semi join (dual of T20).
    "q08_join_semi" -> QueryDef(
      (s, d) => tbl(s, d, "customer")
        .join(tbl(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // Q9 — multi-way join, revenue per nation; join order left to Catalyst
    // (nation/region are broadcast by AQE automatically).
    "q09_join_multiway" -> QueryDef(
      (s, d) => tbl(s, d, "lineitem")
        .join(tbl(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(tbl(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          (sum(revenueBp(col("l_extendedprice"), col("l_discount"))).cast("double") / 10000.0).as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("n_name"),
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT) * (100 - CAST(round(l_discount*100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Q10 — TPC-H Q1-shaped hash aggregate. All measures derive from exact
    // integer sums (order-independent), then one identical double division.
    "q10_agg_hash" -> QueryDef(
      (s, d) => {
        val li = tbl(s, d, "lineitem")
        val qty = sum(col("l_quantity").cast("long"))
        val base = sum(cents(col("l_extendedprice")))
        val disc = sum(revenueBp(col("l_extendedprice"), col("l_discount")))
        val n = count(lit(1))
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(
            qty.as("sum_qty"),
            (base.cast("double") / 100.0).as("sum_base_price"),
            (disc.cast("double") / 10000.0).as("sum_disc_price"),
            (qty.cast("double") / n).as("avg_qty"),
            (base.cast("double") / 100.0 / n).as("avg_price"),
            (sum(cents(col("l_discount"))).cast("double") / 100.0 / n).as("avg_disc"),
            n.as("n"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
             |  CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT) * (100 - CAST(round(l_discount*100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
             |  CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
             |  CAST(SUM(CAST(round(l_discount*100, 0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Q11 — exact distinct count per order-year (reference T19 dedup-by-URL).
    "q11_distinct_count" -> QueryDef(
      (s, d) => tbl(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy("order_year"),
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
             |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
             |  CAST(COUNT(*) AS BIGINT) AS n_orders
             |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin)),

    // Q12 — approximate distinct (HLL++), the 100 TB-scale cardinality
    // path. No DuckDB oracle (different sketch); driver records rows>0.
    "q12_approx_distinct" -> QueryDef(
      (s, d) => tbl(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      None,
      doc = "approx_count_distinct tolerance vs exact is validated in ScalaTest, not DuckDB"),

    // Q13 — rollup over (nation, order-year) revenue; NULL rollup keys are
    // coalesced to sentinels so sort/NULL semantics can't drift.
    "q13_rollup" -> QueryDef(
      (s, d) => {
        // The join-derived grouping attrs make rollup+coalesce resolution
        // ambiguous in the DataFrame API (Expand duplicates them); routing
        // the rollup through spark.sql yields the identical Catalyst plan
        // without the name-resolution trap. The view name is unique per
        // build (and dropped once the plan is resolved) so two concurrent
        // builds on one session can't race on a shared name.
        val view = s"q13_base_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        tbl(s, d, "orders")
          .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(tbl(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), year(col("o_orderdate")).as("order_year"),
            cents(col("o_totalprice")).as("price_c"))
          .createOrReplaceTempView(view)
        val out = s.sql(s"""SELECT coalesce(n_name, '(all)') AS nation_g,
                |  coalesce(order_year, -1) AS year_g,
                |  CAST(sum(price_c) AS DOUBLE) / 100.0 AS revenue,
                |  count(1) AS n
                |FROM $view GROUP BY ROLLUP (n_name, order_year)
                |ORDER BY nation_g, year_g""".stripMargin)
        out.queryExecution.analyzed // force resolution before the view drops
        s.catalog.dropTempView(view)
        out
      },
      Some("""SELECT COALESCE(n_name, '(all)') AS nation_g,
             |  CAST(COALESCE(order_year, -1) AS INTEGER) AS year_g,
             |  CAST(SUM(price_c) AS DOUBLE) / 100.0 AS revenue,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM (SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS order_year,
             |        CAST(round(o_totalprice*100, 0) AS BIGINT) AS price_c
             |      FROM orders JOIN customer ON o_custkey = c_custkey
             |      JOIN nation ON c_nationkey = n_nationkey)
             |GROUP BY ROLLUP (n_name, order_year)
             |ORDER BY nation_g, year_g""".stripMargin)),

    // Q14 — cube over (event_type, month) on the events stream table
    // (dashboard slicing; reference serving layer).
    "q14_cube" -> QueryDef(
      (s, d) => tbl(s, d, "events")
        .select(col("event_type"), month(col("ts")).as("mo"), cents(col("value")).as("v_c"))
        .cube("event_type", "mo")
        .agg(count(lit(1)).as("n"), (sum(col("v_c")).cast("double") / 100.0).as("sum_value"))
        .toDF("event_type", "mo", "n", "sum_value") // see q13 note on Expand ambiguity
        .select(coalesce(col("event_type"), lit("(all)")).as("event_type_g"),
          coalesce(col("mo"), lit(-1)).as("month_g"), col("n"), col("sum_value"))
        .orderBy("event_type_g", "month_g"),
      Some("""SELECT COALESCE(event_type, '(all)') AS event_type_g,
             |  CAST(COALESCE(mo, -1) AS INTEGER) AS month_g,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(v_c) AS DOUBLE) / 100.0 AS sum_value
             |FROM (SELECT event_type, CAST(month(ts) AS INTEGER) AS mo,
             |        CAST(round(value*100, 0) AS BIGINT) AS v_c FROM events)
             |GROUP BY CUBE (event_type, mo)
             |ORDER BY event_type_g, month_g""".stripMargin)),

    // Q15 — dedup-keep-first: earliest event per (user_id, event_type),
    // tie-broken by event_id (reference T7 Valkey dedup,
    // internal/clients/valkey_client.go:126-159).
    "q15_dedup_first" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id", "event_type").orderBy(col("ts"), col("event_id"))
        tbl(s, d, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
             |      FROM events)
             |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    // Q16 — ranking window: top-3 orders per customer by totalprice
    // (top-k topics serving). rank/dense_rank on the price ordering;
    // row_number gets a unique tiebreak so selection is deterministic.
    "q16_window_rank" -> QueryDef(
      (s, d) => {
        val wRank = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
        val wRn = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        tbl(s, d, "orders")
          .withColumn("rn", row_number().over(wRn).cast("long"))
          .withColumn("rnk", rank().over(wRank).cast("long"))
          .withColumn("drnk", dense_rank().over(wRank).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            col("rn"), col("rnk"), col("drnk"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk
             |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             |        CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
             |        CAST(rank()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS BIGINT) AS rnk,
             |        CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS BIGINT) AS drnk
             |      FROM orders)
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // Q17 — analytic window with a range frame: 7-day moving average of
    // daily revenue + day-over-day delta. The frame aggregates exact cents
    // (BIGINT) so segment-tree vs streaming accumulation cannot drift.
    // Scale note: the global (unpartitioned) window runs AFTER the daily
    // pre-aggregation, so the single partition holds #distinct-days rows —
    // a calendar-bounded cardinality independent of data volume; the
    // heavy lifting (the groupBy) is fully parallel with map-side combine.
    "q17_window_frame" -> QueryDef(
      (s, d) => {
        val daily = tbl(s, d, "lineitem")
          .groupBy(col("l_shipdate").cast("date").as("day"))
          .agg(sum(cents(col("l_extendedprice"))).as("rev_c"))
          .withColumn("dn", datediff(col("day"), lit("1970-01-01").cast("date")))
        val wRange = Window.orderBy("dn").rangeBetween(-6, 0)
        val wLag = Window.orderBy("dn")
        daily
          .withColumn("ma7", sum(col("rev_c")).over(wRange).cast("double") / 100.0
            / count(lit(1)).over(wRange))
          .withColumn("delta", (col("rev_c") - lag(col("rev_c"), 1).over(wLag)).cast("double") / 100.0)
          .select(col("day"), (col("rev_c").cast("double") / 100.0).as("revenue"),
            col("ma7"), col("delta"))
          .orderBy("day")
      },
      Some("""SELECT day, CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
             |  CAST(SUM(rev_c) OVER w AS DOUBLE) / 100.0 / COUNT(*) OVER w AS ma7,
             |  CAST(rev_c - lag(rev_c, 1) OVER (ORDER BY dn) AS DOUBLE) / 100.0 AS delta
             |FROM (SELECT CAST(l_shipdate AS DATE) AS day,
             |        CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS rev_c,
             |        CAST(divide(epoch_us(CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP)), 86400000000) AS INTEGER) AS dn
             |      FROM lineitem GROUP BY 1, 3)
             |WINDOW w AS (ORDER BY dn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
             |ORDER BY day""".stripMargin)),

    // Q18 — global top-k (TakeOrderedAndProject; reference S3
    // sort=relevance&limit=100, internal/clients/reddit_client.go:76-77).
    "q18_topk" -> QueryDef(
      (s, d) => tbl(s, d, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_quantity"))
        .limit(10),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin)),

    // Q19 — set operations over customer-key sets of two order years
    // (reference S1 union of category fetches).
    "q19_setops" -> QueryDef(
      (s, d) => {
        val o = tbl(s, d, "orders")
        val a = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
        val b = o.filter(year(col("o_orderdate")) === 1997).select("o_custkey")
        val unionAll = a.unionAll(b).groupBy("o_custkey").agg(count(lit(1)).as("n"))
          .withColumn("op", lit("union_all"))
        val unionD = a.union(b).distinct().withColumn("n", lit(1L)).withColumn("op", lit("union"))
        val inter = a.intersect(b).withColumn("n", lit(1L)).withColumn("op", lit("intersect"))
        val exc = a.except(b).withColumn("n", lit(1L)).withColumn("op", lit("except"))
        unionAll.select("op", "o_custkey", "n")
          .unionByName(unionD.select("op", "o_custkey", "n"))
          .unionByName(inter.select("op", "o_custkey", "n"))
          .unionByName(exc.select("op", "o_custkey", "n"))
          .orderBy("op", "o_custkey")
      },
      Some("""WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
             |     b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
             |SELECT 'union_all' AS op, o_custkey, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM (SELECT * FROM a UNION ALL SELECT * FROM b) GROUP BY o_custkey
             |UNION ALL
             |SELECT 'union', o_custkey, 1 FROM (SELECT * FROM a UNION SELECT * FROM b)
             |UNION ALL
             |SELECT 'intersect', o_custkey, 1 FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
             |UNION ALL
             |SELECT 'except', o_custkey, 1 FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
             |ORDER BY op, o_custkey""".stripMargin)),

    // Q20 — string function battery incl. the T5 content-id recipe
    // hex(sha256("source:lang:id")) (internal/producer/fetch.go:178-182).
    "q20_string_funcs" -> QueryDef(
      (s, d) => tbl(s, d, "documents")
        .select(
          col("doc_id"),
          sha2(concat_ws(":", col("source"), col("lang"), col("doc_id").cast("string")), 256).as("content_id"),
          length(col("text")).cast("long").as("n_chars_c"),
          length(trim(col("text"))).cast("long").as("n_trimmed"),
          substring(col("text"), 1, 20).as("head20"),
          upper(substring(col("text"), 1, 10)).as("head_upper"),
          regexp_extract(col("text"), "^([a-z]+)", 1).as("first_word"),
          regexp_replace(substring(col("text"), 1, 40), "[aeiou]", "").as("devoweled"),
          translate(substring(col("text"), 1, 20), "abc", "xyz").as("translated"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  sha256(concat_ws(':', source, lang, CAST(doc_id AS STRING))) AS content_id,
             |  length(text) AS n_chars_c,
             |  length(trim(text)) AS n_trimmed,
             |  substring(text, 1, 20) AS head20,
             |  upper(substring(text, 1, 10)) AS head_upper,
             |  regexp_extract(text, '^([a-z]+)', 1) AS first_word,
             |  regexp_replace(substring(text, 1, 40), '[aeiou]', '', 'g') AS devoweled,
             |  translate(substring(text, 1, 20), 'abc', 'xyz') AS translated
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Q21 — date/time battery: daily buckets, epoch round-trip, the 24 h
    // TTL recipe (internal/db/dynamodb.go:34,201), calendar parts.
    "q21_datetime_funcs" -> QueryDef(
      (s, d) => tbl(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n"),
          min(unix_seconds(col("ts"))).as("min_ep"),
          max(unix_seconds(col("ts") + expr("INTERVAL 24 HOURS"))).as("ttl_ep"))
        .select(col("day"), col("n"), col("min_ep"), col("ttl_ep"),
          year(col("day")).as("yr"), month(col("day")).as("mo"),
          (weekday(col("day")) + 1).as("idow"))
        .orderBy("day"),
      Some("""SELECT day, n, min_ep, ttl_ep,
             |  CAST(year(day) AS INTEGER) AS yr, CAST(month(day) AS INTEGER) AS mo,
             |  CAST(isodow(day) AS INTEGER) AS idow
             |FROM (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             |        CAST(COUNT(*) AS BIGINT) AS n,
             |        CAST(MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) AS min_ep,
             |        CAST(MAX(CAST(floor(epoch(ts + INTERVAL 24 HOURS)) AS BIGINT)) AS BIGINT) AS ttl_ep
             |      FROM events GROUP BY 1)
             |ORDER BY day""".stripMargin)),

    // Q22 — math battery: histogram buckets via floor-division, exact sums,
    // abs/greatest/least (score post-processing).
    "q22_math_funcs" -> QueryDef(
      (s, d) => tbl(s, d, "events")
        .groupBy(floor(col("value") / 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("value"))).cast("double") / 100.0).as("sum_value"),
          (sum(cents(col("value"))).cast("double") / 100.0 / count(lit(1))).as("avg_value"),
          max(col("value")).as("max_v"), min(col("value")).as("min_v"),
          max(abs(col("value") - 250)).as("max_dev"),
          greatest(max(col("value")), lit(100.0)).as("g"),
          least(min(col("value")), lit(1.0)).as("l"))
        .orderBy("bucket"),
      Some("""SELECT CAST(floor(value/50) AS BIGINT) AS bucket,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
             |  CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_value,
             |  MAX(value) AS max_v, MIN(value) AS min_v,
             |  MAX(abs(value - 250)) AS max_dev,
             |  greatest(MAX(value), 100.0) AS g,
             |  least(MIN(value), 1.0) AS l
             |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Q23 — array battery over tokenized documents; array_join with '+' is
    // the T3 subreddit-string recipe (internal/producer/fetch.go:43).
    "q23_array_funcs" -> QueryDef(
      (s, d) => {
        val t = split(col("text"), " ")
        tbl(s, d, "documents").select(
          col("doc_id"),
          size(t).cast("long").as("n_tok"),
          size(array_distinct(t)).cast("long").as("n_dist"),
          array_contains(t, "spark").as("has_spark"),
          array_join(slice(t, 1, 5), "+").as("first5"),
          array_join(slice(sort_array(array_distinct(t)), 1, 3), ",").as("abc3"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  len(string_split(text, ' ')) AS n_tok,
             |  len(list_distinct(string_split(text, ' '))) AS n_dist,
             |  list_contains(string_split(text, ' '), 'spark') AS has_spark,
             |  array_to_string(list_slice(string_split(text, ' '), 1, 5), '+') AS first5,
             |  array_to_string(list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, 3), ',') AS abc3
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Q24 — map battery: sparse metadata map w/ empty-value filtering
    // (reference sparse DynamoDB attrs, internal/db/dynamodb.go:204-222).
    // The oracle computes the same scalars without MAP types so arrow
    // round-tripping can't diverge.
    "q24_map_funcs" -> QueryDef(
      (s, d) => {
        val m = map(lit("source"), col("source"), lit("lang"), col("lang"))
        val filtered = map_filter(m, (_, v) => length(v) > 0)
        tbl(s, d, "documents").select(
          col("doc_id"),
          size(filtered).cast("long").as("n_meta"),
          element_at(m, "lang").as("lang_val"),
          array_join(sort_array(map_keys(filtered)), ",").as("keys_sorted"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST((CASE WHEN source <> '' THEN 1 ELSE 0 END) + (CASE WHEN lang <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_meta,
             |  lang AS lang_val,
             |  concat_ws(',', CASE WHEN lang <> '' THEN 'lang' END, CASE WHEN source <> '' THEN 'source' END) AS keys_sorted
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Q25 — JSON battery on events.props (reference T1/T2 serde,
    // internal/utils/kafka_helpers.go:8-26; T18 repair). Missing/non-int
    // $.k is null-guarded identically on both sides: reemit '{}' rather
    // than relying on engine-specific null-in-concat behavior.
    "q25_json_funcs" -> QueryDef(
      (s, d) => {
        val kc = get_json_object(col("props"), "$.k").cast("int")
        // Sort FIRST, parse after (the func_json_repair shape): the range
        // partitioner samples its child, so three JSON parses below the
        // Sort are paid twice. event_id is a unique total order, so
        // projecting above the Sort is row- and order-identical.
        tbl(s, d, "events")
          .select(col("event_id"), col("props"))
          .orderBy("event_id")
          .select(
            col("event_id"),
            kc.as("k"),
            from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
              .getField("k").as("k2"),
            when(kc.isNull, lit("{}")).otherwise(to_json(struct(kc.as("k")))).as("reemit"))
      },
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
             |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k2,
             |  CASE WHEN json_extract_string(props, '$.k') IS NULL THEN '{}'
             |       ELSE concat('{"k":', CAST(json_extract_string(props, '$.k') AS INTEGER), '}') END AS reemit
             |FROM events ORDER BY event_id""".stripMargin)),

    // Q29 — pivot: daily value sums spread across event_type columns (the
    // dashboard matrix the reference's Grafana boards render). Explicit
    // pivot value list keeps the schema static (no extra distinct pass,
    // and the plan is a single aggregation — scale-safe).
    "q29_pivot" -> QueryDef(
      (s, d) => tbl(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(cents(col("value"))))
        .select(col("day"),
          (coalesce(col("click"), lit(0L)).cast("double") / 100.0).as("click"),
          (coalesce(col("error"), lit(0L)).cast("double") / 100.0).as("error"),
          (coalesce(col("purchase"), lit(0L)).cast("double") / 100.0).as("purchase"),
          (coalesce(col("signup"), lit(0L)).cast("double") / 100.0).as("signup"),
          (coalesce(col("view"), lit(0L)).cast("double") / 100.0).as("view"))
        .orderBy("day"),
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             |  CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN CAST(round(value*100, 0) AS BIGINT) END), 0) AS DOUBLE) / 100.0 AS click,
             |  CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN CAST(round(value*100, 0) AS BIGINT) END), 0) AS DOUBLE) / 100.0 AS error,
             |  CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(round(value*100, 0) AS BIGINT) END), 0) AS DOUBLE) / 100.0 AS purchase,
             |  CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN CAST(round(value*100, 0) AS BIGINT) END), 0) AS DOUBLE) / 100.0 AS signup,
             |  CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN CAST(round(value*100, 0) AS BIGINT) END), 0) AS DOUBLE) / 100.0 AS view
             |FROM events GROUP BY 1 ORDER BY day""".stripMargin)),

    // Q30 — unpivot (melt): lineitem measures to (metric, value) rows —
    // the inverse reshape, one Expand pass, no shuffle beyond the sort.
    "q30_unpivot" -> QueryDef(
      (s, d) => tbl(s, d, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice")).as("price_c"),
          cents(col("l_discount")).as("discount_c"),
          cents(col("l_tax")).as("tax_c"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("price_c"), col("discount_c"), col("tax_c")),
          "metric", "cents")
        .select(col("l_orderkey"), col("l_linenumber"), col("metric"),
          (col("cents").cast("double") / 100.0).as("value"))
        .orderBy("l_orderkey", "l_linenumber", "metric"),
      Some("""SELECT l_orderkey, l_linenumber, metric, CAST(cents AS DOUBLE) / 100.0 AS value
             |FROM (
             |  SELECT l_orderkey, l_linenumber, 'price_c' AS metric, CAST(round(l_extendedprice*100, 0) AS BIGINT) AS cents FROM lineitem WHERE l_orderkey <= 100
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'discount_c', CAST(round(l_discount*100, 0) AS BIGINT) FROM lineitem WHERE l_orderkey <= 100
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'tax_c', CAST(round(l_tax*100, 0) AS BIGINT) FROM lineitem WHERE l_orderkey <= 100)
             |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),

    // Q31 — percentile battery on exact integer cents: exact median +
    // p90 via interpolated percentile (both engines interpolate with the
    // same (1-f)*a + f*b rule on identical longs), plus min/max bounds.
    // r14: computed via [[Qh.gridPercentiles]] (counted value-domain
    // rollup + covering-row interpolation) instead of the percentile()
    // ObjectHashAggregate — bit-identical doubles, all-codegen, and the
    // per-group value map never lands in one reducer task.
    "q31_percentiles" -> QueryDef(
      (s, d) => gridPercentiles(
          tbl(s, d, "orders")
            .select(col("o_orderpriority").as("prio"),
              cents(col("o_totalprice")).as("price_c")),
          Seq("prio"), col("price_c"), Seq("__p50" -> 0.5, "__p90" -> 0.9))
        .select(col("prio"),
          (col("__p50") / 100.0).as("median"),
          (col("__p90") / 100.0).as("p90"),
          (col("__min").cast("double") / 100.0).as("lo"),
          (col("__max").cast("double") / 100.0).as("hi"),
          col("__n").as("n"))
        .orderBy("prio"),
      Some("""SELECT o_orderpriority AS prio,
             |  quantile_cont(CAST(round(o_totalprice*100, 0) AS BIGINT), 0.5) / 100.0 AS median,
             |  quantile_cont(CAST(round(o_totalprice*100, 0) AS BIGINT), 0.9) / 100.0 AS p90,
             |  CAST(MIN(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS lo,
             |  CAST(MAX(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS hi,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin)),

    // Q26 — conditional/null battery: threshold labeling (reference T15
    // sentiment label semantics), coalesce/nullif.
    "q26_conditional" -> QueryDef(
      (s, d) => tbl(s, d, "events")
        .select(
          when(col("value") < 20, "NEGATIVE")
            .when(col("value") < 50, "NEUTRAL")
            .otherwise("POSITIVE").as("label"),
          coalesce(nullif(col("event_type"), lit("error")), lit("unknown")).as("etype"),
          coalesce(nullif(floor(col("value") / 50).cast("long"), lit(0L)), lit(-1L)).as("nz_bucket"))
        .groupBy("label", "etype")
        .agg(count(lit(1)).as("n"), sum(col("nz_bucket")).as("sum_bucket"))
        .orderBy("label", "etype"),
      Some("""SELECT label, etype, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(nz_bucket) AS BIGINT) AS sum_bucket
             |FROM (SELECT
             |    CASE WHEN value < 20 THEN 'NEGATIVE' WHEN value < 50 THEN 'NEUTRAL' ELSE 'POSITIVE' END AS label,
             |    COALESCE(NULLIF(event_type, 'error'), 'unknown') AS etype,
             |    COALESCE(NULLIF(CAST(floor(value/50) AS BIGINT), 0), -1) AS nz_bucket
             |  FROM events)
             |GROUP BY label, etype ORDER BY label, etype""".stripMargin)),

    // Q37 — range (band) join: events classified into value tiers by
    // range containment against a tiny tier dimension. The dim side is
    // broadcast, so the non-equi condition runs as a BroadcastNestedLoop
    // over 5 rows per event — the right 100 TB shape for band joins
    // against small dims (a large-large range join would instead bucket
    // both sides by coarse range, turning containment into an equi-join
    // on the bucket plus a residual filter).
    "q37_range_join" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val tiers = Seq(
          ("t0", 0L, 10000L), ("t1", 10000L, 20000L), ("t2", 20000L, 30000L),
          ("t3", 30000L, 40000L), ("t4", 40000L, 1000000L))
          .toDF("tier", "lo_cents", "hi_cents")
        val ev = tbl(s, d, "events").withColumn("v_cents", cents(col("value")))
        ev.join(broadcast(tiers),
            col("v_cents") >= col("lo_cents") && col("v_cents") < col("hi_cents"))
          .groupBy("tier")
          .agg(count(lit(1)).as("n"), sum(col("v_cents")).as("sum_cents"))
          .orderBy("tier")
      },
      Some("""WITH tiers(tier, lo_cents, hi_cents) AS (VALUES
             |  ('t0', 0, 10000), ('t1', 10000, 20000), ('t2', 20000, 30000),
             |  ('t3', 30000, 40000), ('t4', 40000, 1000000)),
             |ev AS (SELECT CAST(round(value*100) AS BIGINT) v_cents FROM events)
             |SELECT tier, CAST(count(*) AS BIGINT) AS n, CAST(sum(v_cents) AS BIGINT) AS sum_cents
             |FROM ev JOIN tiers ON v_cents >= lo_cents AND v_cents < hi_cents
             |GROUP BY tier ORDER BY tier""".stripMargin),
      doc = "range-containment join against a broadcast tier dim"),

    // Q42 — approx_percentile (single-pass mergeable quantile sketch, the
    // q12/HLL++ companion): per event_type, approximate p50/p90/p99 of the
    // exact integer cents. The 100 TB shape for percentiles — q31's exact
    // per-group sort only works because its group count is bounded; a
    // sketch is the only single-pass answer over an unbounded stream of
    // groups. Declared rows-only (sketch internals are engine-specific);
    // the ±accuracy contract vs the exact percentile is spec-asserted
    // (OperatorSpec), the q12 precedent.
    "q42_approx_quantile" -> QueryDef(
      (s, d) => tbl(s, d, "events")
        .withColumn("v_cents", cents(col("value")))
        .groupBy("event_type")
        .agg(
          percentile_approx(col("v_cents"), lit(0.5), lit(10000)).as("p50_c"),
          percentile_approx(col("v_cents"), lit(0.9), lit(10000)).as("p90_c"),
          percentile_approx(col("v_cents"), lit(0.99), lit(10000)).as("p99_c"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      None,
      doc = "approx_percentile sketch; accuracy vs exact validated in ScalaTest, not DuckDB"),

    // Q43 — count-min frequency sketch, completing the mergeable-sketch
    // trio (q12 HLL distinct, q42 KLL-style quantile, q43 CMS
    // frequency): a single-pass, fixed-memory (~150 KB at eps=1e-3,
    // δ=0.001) answer to "how often does token X occur" over a corpus
    // whose exact vocabulary count table would itself be shuffle-scale.
    // The sketch aggregation is map-side mergeable (CMS adds commute),
    // so 1000 executors each build a partial and ship kilobytes. We
    // probe it for the exact top-10 tokens (deterministic tie-break)
    // and emit exact vs estimate side by side; CMS guarantees
    // est ≥ exact and P(est ≤ exact + eps·N) ≥ 1−δ — both
    // spec-asserted (OperatorSpec), rows-only at the driver gate like
    // its sketch siblings. The 10-row probe set and the KB-sized sketch
    // are the only driver-side materializations.
    "q43_approx_freq" -> QueryDef(
      (s, d) => {
        val toks = tbl(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
        val top = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("token")).limit(10)
        val skBytes = Qh.boundedHead(toks
          .select(count_min_sketch(col("token"), lit(0.001), lit(0.999), lit(42)).as("sk")),
          "count-min sketch bytes (global aggregate)").getAs[Array[Byte]](0)
        val cms = org.apache.spark.util.sketch.CountMinSketch
          .readFrom(new java.io.ByteArrayInputStream(skBytes))
        val probed = Qh.boundedCollect(top, 10, "top-10 probe tokens").toSeq.map(r =>
          (r.getString(0), r.getLong(1), cms.estimateCount(r.getString(0))))
        import s.implicits._
        probed.toDF("token", "exact_cnt", "est_cnt").orderBy("token")
      },
      None,
      doc = "count-min sketch frequency estimates for the exact top-10 tokens; " +
        "over-estimate-only bound validated in ScalaTest, not DuckDB"),

    // Q44 — supplier-side revenue top-k (closes the one unqueried table:
    // every Tables.names member now has at least one oracle row). The
    // supplier dual of Q9's customer rollup, TPC-H Q15-shaped: lineitem ⋈
    // supplier ⋈ nation, exact-integer revenue per supplier, top-10 by
    // revenue with a unique-key tie-break so the LIMIT is deterministic.
    // Scale shape: the fact-table shuffle is on l_suppkey only (partial
    // aggregation map-side-combines first); supplier and nation are dims
    // AQE broadcasts — no fact-fact shuffle join anywhere.
    "q44_supplier_revenue" -> QueryDef(
      (s, d) => tbl(s, d, "lineitem")
        .join(tbl(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(tbl(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(sum(revenueBp(col("l_extendedprice"), col("l_discount"))).as("revenue_bp"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue_bp").desc, col("s_suppkey"))
        .limit(10)
        .select(col("s_suppkey"), col("s_name"), col("n_name"),
          col("revenue_bp"),
          (col("revenue_bp").cast("double") / 10000.0).as("revenue"),
          col("n_items")),
      Some("""SELECT s_suppkey, s_name, n_name,
             |  CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT) * (100 - CAST(round(l_discount*100, 0) AS BIGINT))) AS BIGINT) AS revenue_bp,
             |  CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT) * (100 - CAST(round(l_discount*100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
             |  CAST(COUNT(*) AS BIGINT) AS n_items
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |GROUP BY s_suppkey, s_name, n_name
             |ORDER BY revenue_bp DESC, s_suppkey LIMIT 10""".stripMargin),
      doc = "supplier revenue top-10 (TPC-H Q15-shaped); exact-integer ranking key"),

    // Q45 — GROUPING SETS, completing the multi-granularity trio (q13
    // ROLLUP, q14 CUBE): an explicit, non-hierarchical set list —
    // (flag,status), (flag), () — i.e. "detail, by-flag, grand total"
    // WITHOUT the by-status slice a CUBE would force. Same Expand-based
    // physical plan (one scan, one shuffle); same spark.sql routing as q13
    // (the DataFrame-API rollup/cube name-resolution trap). Keys have no
    // NULLs in the data, so coalesce sentinels are collision-free.
    "q45_grouping_sets" -> QueryDef(
      (s, d) => {
        val view = s"q45_base_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        tbl(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_quantity").cast("long").as("qty"),
            cents(col("l_extendedprice")).as("price_c"))
          .createOrReplaceTempView(view)
        val out = s.sql(s"""SELECT coalesce(l_returnflag, '(all)') AS flag_g,
                |  coalesce(l_linestatus, '(all)') AS status_g,
                |  sum(qty) AS sum_qty,
                |  CAST(sum(price_c) AS DOUBLE) / 100.0 AS sum_price,
                |  count(1) AS n
                |FROM $view
                |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
                |ORDER BY flag_g, status_g""".stripMargin)
        out.queryExecution.analyzed // force resolution before the view drops
        s.catalog.dropTempView(view)
        out
      },
      Some("""SELECT COALESCE(l_returnflag, '(all)') AS flag_g,
             |  COALESCE(l_linestatus, '(all)') AS status_g,
             |  CAST(SUM(qty) AS BIGINT) AS sum_qty,
             |  CAST(SUM(price_c) AS DOUBLE) / 100.0 AS sum_price,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM (SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty,
             |        CAST(round(l_extendedprice*100, 0) AS BIGINT) AS price_c
             |      FROM lineitem)
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
             |ORDER BY flag_g, status_g""".stripMargin),
      doc = "explicit GROUPING SETS (detail / by-flag / grand total) — the non-hierarchical multi-granularity aggregate q13/q14 can't express"),

    // Q47 — FULL OUTER join, the one join type the q04–q09 battery lacked:
    // high-balance customers vs 1996 order rollups, keeping BOTH unmatched
    // sides (rich customers who sat 1996 out / 1996 buyers below the
    // balance bar) with an explicit side marker so the outer semantics are
    // hash-gated, not just row-counted. Scale shape: the orders side is
    // pre-aggregated to one row per custkey BEFORE the join (partial agg
    // map-side), so the full-outer shuffle carries two customer-sized
    // relations on the same key — never the raw fact table.
    "q47_join_full_outer" -> QueryDef(
      (s, d) => {
        val cust = tbl(s, d, "customer")
          .filter(col("c_acctbal") > 8000)
          .select(col("c_custkey"), col("c_name"))
        val ords = tbl(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1996)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("sum_c"))
        cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "both")
              .when(col("c_custkey").isNotNull, "cust_only")
              .otherwise("orders_only").as("side"),
            col("c_name"), col("n_orders"),
            (col("sum_c").cast("double") / 100.0).as("sum_price"))
          .orderBy("custkey")
      },
      Some("""SELECT COALESCE(c_custkey, o_custkey) AS custkey,
             |  CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'both'
             |       WHEN c_custkey IS NOT NULL THEN 'cust_only'
             |       ELSE 'orders_only' END AS side,
             |  c_name, n_orders, CAST(sum_c AS DOUBLE) / 100.0 AS sum_price
             |FROM (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 8000) a
             |FULL OUTER JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
             |    CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_c
             |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey) b
             |ON c_custkey = o_custkey
             |ORDER BY custkey""".stripMargin),
      doc = "FULL OUTER join with explicit side markers; orders pre-aggregated before the join"),

    // Q48 — distribution-window battery, completing q16's ranking family:
    // ntile(4) quartile buckets, percent_rank, cume_dist per customer over
    // a UNIQUE ordering (price desc, orderkey — ties would make all three
    // engine-dependent). The doubles are (rn−1)/(n−1) and rn/n on small
    // exact integers — the same single IEEE division in both engines.
    "q48_window_distribution" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        tbl(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  percent_rank() OVER w AS pct_rank,
             |  cume_dist() OVER w AS cume
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin),
      doc = "ntile/percent_rank/cume_dist over a unique ordering (deterministic by construction)"),

    // Q49 — statistics battery from EXACT integer moments: mean, population
    // stddev, and Pearson correlation (value vs event time) per event_type.
    // The built-in corr/stddev aggregates are single-pass co-moment
    // recursions whose float state depends on accumulation order — never
    // bit-stable across engines or partitionings — so the aggregation here
    // is six exact long sums (n, Σx, Σy, Σx², Σy², Σxy) with map-side
    // combine, and the statistics derive from them afterwards with one
    // identical double expression per stat. Overflow budget: x = cents
    // ≤ 5.7e4, y = minutes since 2024-01-01 ≤ 4.4e4 (the div-60 is what
    // buys 100× headroom: Σy² ≤ 1.9e9·rows stays under 2^63 past 10^9
    // rows per group). The double derivation (n·Σx² − Σx·Σx etc.) happens
    // AFTER the exact aggregation, so even its 1e21-scale intermediates
    // are fine — doubles carry the magnitude, and both engines execute
    // the identical IEEE expression tree on identical integers.
    "q49_stats_agg" -> QueryDef(
      (s, d) => {
        val dn = (c: org.apache.spark.sql.Column) => c.cast("double")
        tbl(s, d, "events")
          .select(col("event_type"),
            cents(col("value")).as("x"),
            expr("(unix_timestamp(ts) - 1704067200) div 60").as("y"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
          .select(col("event_type"), col("n"), col("sx"), col("sy"),
            (dn(col("sx")) / dn(col("n"))).as("mean_cents"),
            sqrt((dn(col("n")) * dn(col("sxx")) - dn(col("sx")) * dn(col("sx"))) /
              (dn(col("n")) * dn(col("n")))).as("stddev_pop_cents"),
            ((dn(col("n")) * dn(col("sxy")) - dn(col("sx")) * dn(col("sy"))) /
              (sqrt(dn(col("n")) * dn(col("sxx")) - dn(col("sx")) * dn(col("sx"))) *
                sqrt(dn(col("n")) * dn(col("syy")) - dn(col("sy")) * dn(col("sy"))))).as("corr_xy"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, n, sx, sy,
             |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
             |  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
             |       (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS stddev_pop_cents,
             |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_xy
             |FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |        CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
             |        CAST(sum(x*y) AS BIGINT) AS sxy
             |      FROM (SELECT event_type, CAST(round(value*100) AS BIGINT) AS x,
             |              divide(divide(epoch_us(ts), 1000000) - 1704067200, 60) AS y
             |            FROM events)
             |      GROUP BY event_type)
             |ORDER BY event_type""".stripMargin),
      doc = "mean/stddev_pop/corr from six exact long moments — engine-stable " +
        "where built-in float co-moment aggregates are not"),

    // Q50 — bag (multiset) set operations, completing q19's set family:
    // INTERSECT ALL / EXCEPT ALL keep multiplicities (a customer with 3
    // orders in 1996 and 2 in 1997 contributes min(3,2)=2 to the
    // intersection and 3−2=1 to the difference — exactly what dedup-style
    // DISTINCT set ops erase). Multiplicities are then counted per key so
    // the output is deterministic under a unique (op, custkey) order.
    "q50_setops_all" -> QueryDef(
      (s, d) => {
        val o = tbl(s, d, "orders")
        val a = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
        val b = o.filter(year(col("o_orderdate")) === 1997).select("o_custkey")
        val ia = a.intersectAll(b).withColumn("op", lit("intersect_all"))
        val ea = a.exceptAll(b).withColumn("op", lit("except_all"))
        ia.unionByName(ea)
          .groupBy("op", "o_custkey").agg(count(lit(1)).as("n"))
          .orderBy("op", "o_custkey")
      },
      Some("""WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
             |     b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
             |u AS (SELECT 'intersect_all' AS op, o_custkey
             |        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
             |      UNION ALL
             |      SELECT 'except_all', o_custkey
             |        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b))
             |SELECT op, o_custkey, CAST(count(*) AS BIGINT) AS n
             |FROM u GROUP BY op, o_custkey ORDER BY op, o_custkey""".stripMargin),
      doc = "INTERSECT ALL / EXCEPT ALL with multiplicities counted per key"),

    // Q53 — equi-width histogram: order totals binned into fixed $5,000
    // buckets (integer cents arithmetic — `div` on exact cents, capped into
    // a final overflow bucket with least()). Fixed bounds instead of a
    // min/max pre-pass: binning stays a single map-side expression feeding
    // one partial-aggregated groupBy — at 100 TB the histogram is one scan,
    // one 12-row shuffle. Bucket bounds are emitted as exact doubles
    // (integer * 5000.0) so the output is self-describing.
    "q53_histogram" -> QueryDef(
      (s, d) => {
        tbl(s, d, "orders")
          .select(expr("CAST(round(o_totalprice*100) AS BIGINT) div 500000").as("b0"),
            cents(col("o_totalprice")).as("price_c"))
          .select(least(col("b0"), lit(11L)).as("bucket"), col("price_c"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), sum(col("price_c")).as("sum_c"))
          .select(col("bucket"),
            (col("bucket").cast("double") * 5000.0).as("lo"),
            when(col("bucket") < 11, (col("bucket") + 1).cast("double") * 5000.0)
              .otherwise(lit(Double.PositiveInfinity)).as("hi"),
            col("n"), (col("sum_c").cast("double") / 100.0).as("sum_price"))
          .orderBy("bucket")
      },
      Some("""SELECT bucket,
             |  CAST(bucket AS DOUBLE) * 5000.0 AS lo,
             |  CASE WHEN bucket < 11 THEN CAST(bucket + 1 AS DOUBLE) * 5000.0
             |       ELSE CAST('Infinity' AS DOUBLE) END AS hi,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(price_c) AS DOUBLE) / 100.0 AS sum_price
             |FROM (SELECT LEAST(divide(CAST(round(o_totalprice*100) AS BIGINT), 500000), 11) AS bucket,
             |        CAST(round(o_totalprice*100) AS BIGINT) AS price_c
             |      FROM orders)
             |GROUP BY bucket ORDER BY bucket""".stripMargin),
      doc = "equi-width histogram over exact cents; single-scan fixed-bound binning"),

    // Q54 — correlated subqueries, the Catalyst decorrelation surface the
    // battery lacked: two correlated SCALAR subqueries (count and sum per
    // customer) plus a correlated EXISTS, all decorrelated by the optimizer
    // into aggregate-then-join — no per-row re-execution survives in the
    // physical plan. The "above 2× the customer's average" predicate is the
    // integer-exact cross-multiplied form (price_c · n > 2 · Σprice_c):
    // no float average ever materializes, so engines can't drift. Built via
    // spark.sql on the registered views — the subquery shape IS the point.
    "q54_correlated" -> QueryDef(
      (s, d) => {
        graft.Tables.registerAll(s, d)
        s.sql(CorrelatedSql)
      },
      Some(CorrelatedSql),
      doc = "correlated scalar + EXISTS subqueries, decorrelated by Catalyst; " +
        "integer-exact above-average predicate"),

    // Q56 — arg-max/arg-min aggregates (max_by/min_by), the direct
    // single-pass form of "who had the highest-valued event": no window,
    // no self-join — one hash aggregate with map-side partial combine,
    // which at 100 TB beats the row_number() formulation (q16) whenever
    // only the extreme row is wanted. Determinism: the ordering value is
    // value_c·10^10 + event_id — unique per row, so ties cannot make the
    // chosen arg engine-dependent (bare max_by on a non-unique key is
    // explicitly nondeterministic in BOTH engines).
    "q56_argmax" -> QueryDef(
      (s, d) => {
        val keyed = tbl(s, d, "events")
          .select(col("event_type"), col("user_id"), col("event_id"),
            cents(col("value")).as("value_c"))
          .withColumn("ord", col("value_c") * lit(10000000000L) + col("event_id"))
        keyed.groupBy("event_type")
          .agg(max_by(col("user_id"), col("ord")).as("top_user"),
            max(col("value_c")).as("max_value_c"),
            min_by(col("user_id"), col("ord")).as("bottom_user"),
            min(col("value_c")).as("min_value_c"),
            count(lit(1)).as("n"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |  CAST(max_by(user_id, ord) AS BIGINT) AS top_user,
             |  CAST(max(value_c) AS BIGINT) AS max_value_c,
             |  CAST(min_by(user_id, ord) AS BIGINT) AS bottom_user,
             |  CAST(min(value_c) AS BIGINT) AS min_value_c,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM (SELECT event_type, user_id,
             |        CAST(round(value*100) AS BIGINT) AS value_c,
             |        CAST(round(value*100) AS BIGINT) * 10000000000 + event_id AS ord
             |      FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      doc = "single-pass arg-max/arg-min (max_by/min_by) on a unique ordering " +
        "value — the no-window extreme-row aggregate"),

    // Q57 — order-independent table checksum: per (returnflag, linestatus)
    // group, Σ of a deterministic per-row polynomial hash over every
    // business column (floats rendered as exact integer-cent strings, the
    // day-grained ship timestamp as its ISO date — the one string form
    // both engines render identically; no float or sub-day timestamp
    // FORMATTING enters the hash).
    // Commutative addition makes the checksum partitioning- and
    // order-invariant, so two 100 TB replicas compare with one cheap
    // aggregate each — the anti-entropy primitive for corpus snapshots
    // (and exactly how a migration from the reference store would be
    // validated). Collision note: Σ of ~20-bit hashes is a weak adversarial
    // MAC but a fine drift detector; sha2-based exact manifests live in
    // corpus_manifest.
    "q57_table_checksum" -> QueryDef(
      (s, d) => {
        val rowStr = concat_ws(":",
          col("l_orderkey").cast("string"),
          col("l_linenumber").cast("long").cast("string"),
          col("l_quantity").cast("long").cast("string"),
          cents(col("l_extendedprice")).cast("string"),
          cents(col("l_discount")).cast("string"),
          cents(col("l_tax")).cast("string"),
          col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate").cast("date").cast("string"))
        tbl(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"), strHash(rowStr).as("h"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), sum(col("h")).as("checksum"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  CAST(count(*) AS BIGINT) AS n,
              |  CAST(sum(h) AS BIGINT) AS checksum
              |FROM (SELECT l_returnflag, l_linestatus,
              |        ${Qh.strHashSql(
                 "concat_ws(':', CAST(l_orderkey AS STRING), " +
                   "CAST(CAST(l_linenumber AS BIGINT) AS STRING), " +
                   "CAST(CAST(l_quantity AS BIGINT) AS STRING), " +
                   "CAST(CAST(round(l_extendedprice*100) AS BIGINT) AS STRING), " +
                   "CAST(CAST(round(l_discount*100) AS BIGINT) AS STRING), " +
                   "CAST(CAST(round(l_tax*100) AS BIGINT) AS STRING), " +
                   "l_returnflag, l_linestatus, " +
                   "CAST(CAST(l_shipdate AS DATE) AS STRING))")} AS h
              |      FROM lineitem)
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      doc = "order/partitioning-invariant per-group table checksum (sum of " +
        "deterministic row hashes) — the replica anti-entropy primitive"),

    // Q61 — mergeable distinct-count sketches: per-(event_type, day) HLL
    // sketches (Apache DataSketches via hll_sketch_agg) UNIONED up to
    // per-type totals with hll_union_agg. The union step is what q12's
    // scalar approx_count_distinct cannot express: daily sketches are
    // built once (e.g. by a nightly job), and any rollup window — week,
    // month, all-time — is a cheap merge of 12-KB states instead of a
    // re-scan of the raw 100 TB. Rows-only at the driver gate (sketch
    // binaries are engine-specific; the text_bpe_vocab precedent);
    // OperatorSpec bounds the estimate against the exact distinct count.
    "q61_sketch_union" -> QueryDef(
      (s, d) => {
        val daily = tbl(s, d, "events")
          .select(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"),
            col("user_id"))
          .groupBy("event_type", "day")
          .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
            count(lit(1)).as("n_events"))
        daily.groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
              .as("approx_users"),
            sum(col("n_events")).as("n_events"),
            count(lit(1)).as("n_days"))
          .orderBy("event_type")
      },
      None,
      doc = "per-day HLL sketches merged to per-type distinct-user counts " +
        "(hll_sketch_agg + hll_union_agg): build once, merge any window; spec-gated"),

    // Q64 — LATERAL correlated subquery (per-group top-k as a join
    // operator). The ORACLE text is the operator under test: a
    // `nation, LATERAL (SELECT … WHERE correlated ORDER BY … LIMIT 2)`
    // that both DuckDB and Spark 4 execute — Spark decorrelates the
    // LIMIT-inside-lateral into exactly the window-rank plan
    // (DecorrelateInnerQuery), which is what the DataFrame side
    // declares directly. That window form engages WindowGroupLimit
    // (partial mode: each map task keeps ≤2 rows per nation BEFORE the
    // shuffle — the sample_weighted plan-gate), so per-group top-k over
    // 100 TB moves k rows per group per task, never the group. The dim
    // side stays broadcast.
    "q64_lateral_topk" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        val top = tbl(s, d, "customer")
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
        top.join(broadcast(tbl(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("c_custkey"),
            cents(col("c_acctbal")).as("acctbal_c"))
          .orderBy(col("n_name"), col("acctbal_c").desc, col("c_custkey"))
      },
      Some("""SELECT n.n_name AS n_name, t.c_custkey AS c_custkey, t.acctbal_c AS acctbal_c
             |FROM nation n, LATERAL (
             |  SELECT c_custkey, CAST(round(c_acctbal*100) AS BIGINT) AS acctbal_c
             |  FROM customer c WHERE c.c_nationkey = n.n_nationkey
             |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
             |ORDER BY n_name, acctbal_c DESC, c_custkey""".stripMargin),
      doc = "per-nation top-2 via LATERAL (oracle text runs verbatim in " +
        "Spark too); DataFrame side is the decorrelated WindowGroupLimit plan"),

    // Q67 — data-quality contract check (the Deequ/dbt-test shape): a
    // declared battery of table expectations evaluated in ONE scan plus
    // one key join, emitting a per-check verdict row — the gate a 100 TB
    // ingest runs before data is allowed downstream. Checks: column
    // completeness (not-null), key uniqueness, a value-domain rule, a
    // numeric SLA bound (deliberately tighter than the data, so the
    // battery demonstrably FAILS a check rather than rubber-stamping),
    // referential integrity (left-anti against the dim), and calendar
    // completeness (missing order days in the table's own span). Scale
    // shape: the non-distinct checks fuse into one aggregate over one
    // scan; each DISTINCT count is its own single-distinct aggregate
    // (column-pruned scan, hash-aggregatable — see the in-query note);
    // the FK check is the only join; the 6 verdict rows come off ONE
    // explode of a struct array over the joined 1-row frames — no union
    // fan-out (a 6-way union of the same 1-row aggregate would
    // re-trigger the scan per branch or need an eager materialization).
    "q67_quality_contract" -> QueryDef(
      (s, d) => {
        val o = tbl(s, d, "orders")
        val day = col("o_orderdate").cast("date")
        // The two DISTINCT counts live in their OWN single-distinct
        // aggregates: putting both in the battery agg triggers Spark's
        // multi-distinct rewrite — Expand(×3) feeding stacked
        // SortAggregates (the q69 plan trap, audited ~3× slower) —
        // while three column-pruned scans each stay hash-aggregatable
        // with map-side partials. All sides are 1-row frames.
        val base = o.agg(
            count(lit(1)).as("n"),
            sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_null"),
            sum(when(cents(col("o_totalprice")) <= 0L ||
              cents(col("o_totalprice")) > 40000000L, 1L).otherwise(0L)).as("v_sla"),
            sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("v_dom"),
            (datediff(max(day), min(day)) + 1L).as("span_days"))
        val du = o.agg(countDistinct(col("o_orderkey")).as("n_orderkey"))
        val dd = o.agg(countDistinct(day).as("n_days"))
        val fk = o.join(tbl(s, d, "customer"),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("v_fk"))
        def check(nm: String, viol: Column) =
          struct(lit(nm).as("check_name"), viol.as("n_violations"))
        base.crossJoin(du).crossJoin(dd).crossJoin(fk)
          .select(col("n"), explode(array(
            check("completeness_o_custkey", col("v_null")),
            check("uniqueness_o_orderkey", col("n") - col("n_orderkey")),
            check("sla_price_at_most_400k", col("v_sla")),
            check("domain_status_in_OFP", col("v_dom")),
            check("fk_orders_customer", col("v_fk")),
            check("calendar_no_missing_days",
              col("span_days") - col("n_days")))).as("c"))
          .select(col("c.check_name").as("check_name"), col("n"),
            col("c.n_violations").as("n_violations"),
            (col("c.n_violations") === 0L).as("pass"))
          .orderBy("check_name")
      },
      Some("""WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
             |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uniq,
             |    CAST(sum(CASE WHEN CAST(round(o_totalprice*100) AS BIGINT) <= 0
             |                    OR CAST(round(o_totalprice*100) AS BIGINT) > 40000000
             |                  THEN 1 ELSE 0 END) AS BIGINT) AS v_sla,
             |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
             |                  THEN 1 ELSE 0 END) AS BIGINT) AS v_dom,
             |    CAST(divide(epoch_us(CAST(max(CAST(o_orderdate AS DATE)) AS TIMESTAMP))
             |           - epoch_us(CAST(min(CAST(o_orderdate AS DATE)) AS TIMESTAMP)), 86400000000)
             |         + 1 - count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS v_days
             |  FROM orders),
             |fk AS (SELECT CAST(count(*) AS BIGINT) AS v_fk
             |       FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
             |       WHERE c.c_custkey IS NULL),
             |m AS (SELECT * FROM base CROSS JOIN fk)
             |SELECT check_name, n, n_violations, n_violations = 0 AS pass FROM (
             |  SELECT 'completeness_o_custkey' AS check_name, n, v_null AS n_violations FROM m
             |  UNION ALL SELECT 'uniqueness_o_orderkey', n, v_uniq FROM m
             |  UNION ALL SELECT 'sla_price_at_most_400k', n, v_sla FROM m
             |  UNION ALL SELECT 'domain_status_in_OFP', n, v_dom FROM m
             |  UNION ALL SELECT 'fk_orders_customer', n, v_fk FROM m
             |  UNION ALL SELECT 'calendar_no_missing_days', n, v_days FROM m)
             |ORDER BY check_name""".stripMargin),
      doc = "one-pass Deequ-style expectation battery: completeness, " +
        "uniqueness, domain, SLA bound, FK integrity, calendar gaps"),

    // Q68 — equi-DEPTH histogram (the q53 equi-width companion and the
    // statistic a cost-based optimizer and a range-partitioner both
    // want): 10 deciles of equal row count with their value boundaries.
    // The decile of a row is a pure function of its global row number in
    // the unique (price, key) order, so the assignment is DISTRIBUTED:
    // [[graft.Qh.globalRowNumber]]'s two-pass bucketed prefix-rank
    // (deterministic fixed-width buckets on the composite sort proxy,
    // per-bucket counts, broadcast exclusive offsets, bucket-local
    // row_number) — no unpartitioned WindowExec anywhere in the plan, and
    // [[graft.Qh.ntileFromRn]] reproduces SQL ntile(10) in exact integers
    // from (rn, n). At 100 TB every pass is a 2-column pruned parallel
    // scan; the single-task global sort this replaced is gone.
    "q68_histogram_equidepth" -> QueryDef(
      (s, d) => {
        val base = tbl(s, d, "orders")
          .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
        val ranked = globalRowNumber(base, col("price_c"), col("o_orderkey"), "rn")
        ranked.df
          .withColumn("decile", ntileFromRn("rn", ranked.n, 10L))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"), min(col("price_c")).as("lo_c"),
            max(col("price_c")).as("hi_c"), sum(col("price_c")).as("sum_c"))
          .orderBy("decile")
      },
      Some("""SELECT decile, CAST(count(*) AS BIGINT) AS n,
             |  CAST(min(price_c) AS BIGINT) AS lo_c,
             |  CAST(max(price_c) AS BIGINT) AS hi_c,
             |  CAST(sum(price_c) AS BIGINT) AS sum_c
             |FROM (SELECT CAST(ntile(10) OVER (ORDER BY price_c, o_orderkey) AS BIGINT) AS decile,
             |        price_c
             |      FROM (SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_c
             |            FROM orders))
             |GROUP BY decile ORDER BY decile""".stripMargin),
      doc = "10-decile equi-depth histogram with exact boundaries; " +
        "deterministic ntile over a unique order"),

    // Q69 — one-pass column profiler (the "first look at a new table"
    // primitive every ingest runs before schema contracts exist): for
    // each profiled column, row count, null count, exact distinct
    // count, and min/max rendered as strings — one row per column.
    // The scan UNPIVOTS first — each row explodes into 5 rendered
    // (column_name, value) pairs — and ONE grouped aggregate computes
    // every metric, with the distinct count a plain two-phase
    // (column, value)-keyed partial. This is deliberately NOT the
    // "5 countDistincts in one agg" spelling: Spark rewrites multiple
    // distinct sets into an Expand(×6) feeding stacked SortAggregates
    // over a 6-column group key (plan-audited: ~3× slower here), while
    // the unpivoted form stays hash-aggregatable and its shuffle carries
    // (name, value) partials. Profiled columns are the string-renderable
    // ones (keys, enums, dates): float columns are deliberately excluded
    // because Spark's and DuckDB's double→string renderings differ —
    // their profile belongs to q31/q49/q53, which keep them numeric.
    // min/max are over the RENDERED string (lexicographic but
    // engine-identical), keeping the oracle text mechanical.
    "q69_profile" -> QueryDef(
      (s, d) => {
        val o = tbl(s, d, "orders")
          .withColumn("day", col("o_orderdate").cast("date"))
        def pair(nm: String, render: Column) =
          struct(lit(nm).as("column_name"), render.as("v"))
        // Two-level rollup (r13 optimization round): the single grouped
        // aggregate spelled `min/max(v)` over the exploded set, and a
        // STRING min/max buffer is not HashAggregate-eligible — the whole
        // 5×|orders| pass ran as SortAggregate (sorted TWICE: partial +
        // the distinct-merge level; plan-audited). Level 1 below is a
        // count-only rollup per (column_name, v) — fixed-width buffer,
        // pure whole-stage-codegen HashAggregate, still the partial/final
        // two-phase shuffle of (name, value) — and every metric then
        // derives from the DISTINCT-value table, which is bounded by the
        // column domains, not the corpus: n = Σcnt, n_null = cnt where v
        // null, n_distinct = count(v) (non-null distinct rows), min/max
        // over distinct values ≡ min/max over all. The string sort
        // aggregate still exists but now runs over the distinct values
        // only. Result bit-identical (oracle unchanged).
        o.select(explode(array(
            pair("o_orderkey", col("o_orderkey").cast("string")),
            pair("o_custkey", col("o_custkey").cast("string")),
            pair("o_orderstatus", col("o_orderstatus")),
            pair("o_orderpriority", col("o_orderpriority")),
            pair("day", col("day").cast("string")))).as("c"))
          .select(col("c.column_name").as("column_name"), col("c.v").as("v"))
          .groupBy("column_name", "v")
          .agg(count(lit(1)).as("cnt"))
          .groupBy("column_name")
          .agg(sum(col("cnt")).as("n"),
            coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
            count(col("v")).as("n_distinct"),
            min(col("v")).as("min_s"), max(col("v")).as("max_s"))
          .orderBy("column_name")
      },
      Some("""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_o_orderkey,
             |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS dist_o_orderkey,
             |    min(CAST(o_orderkey AS STRING)) AS min_o_orderkey,
             |    max(CAST(o_orderkey AS STRING)) AS max_o_orderkey,
             |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_o_custkey,
             |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS dist_o_custkey,
             |    min(CAST(o_custkey AS STRING)) AS min_o_custkey,
             |    max(CAST(o_custkey AS STRING)) AS max_o_custkey,
             |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_o_orderstatus,
             |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS dist_o_orderstatus,
             |    min(o_orderstatus) AS min_o_orderstatus,
             |    max(o_orderstatus) AS max_o_orderstatus,
             |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_o_orderpriority,
             |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS dist_o_orderpriority,
             |    min(o_orderpriority) AS min_o_orderpriority,
             |    max(o_orderpriority) AS max_o_orderpriority,
             |    CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_day,
             |    CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS dist_day,
             |    min(CAST(CAST(o_orderdate AS DATE) AS STRING)) AS min_day,
             |    max(CAST(CAST(o_orderdate AS DATE) AS STRING)) AS max_day
             |  FROM orders)
             |SELECT column_name, n, n_null, n_distinct, min_s, max_s FROM (
             |  SELECT 'o_orderkey' AS column_name, n, null_o_orderkey AS n_null,
             |    dist_o_orderkey AS n_distinct, min_o_orderkey AS min_s, max_o_orderkey AS max_s FROM m
             |  UNION ALL SELECT 'o_custkey', n, null_o_custkey, dist_o_custkey,
             |    min_o_custkey, max_o_custkey FROM m
             |  UNION ALL SELECT 'o_orderstatus', n, null_o_orderstatus, dist_o_orderstatus,
             |    min_o_orderstatus, max_o_orderstatus FROM m
             |  UNION ALL SELECT 'o_orderpriority', n, null_o_orderpriority, dist_o_orderpriority,
             |    min_o_orderpriority, max_o_orderpriority FROM m
             |  UNION ALL SELECT 'day', n, null_day, dist_day, min_day, max_day FROM m)
             |ORDER BY column_name""".stripMargin),
      doc = "one-scan column profiler: nulls, exact distincts, min/max " +
        "per column as verdict rows — the new-table triage primitive"),

    // Q73 — RFM segmentation (recency / frequency / monetary), the
    // classic warehouse customer-scoring rollup: one pass over orders
    // per customer (days since last order vs. the corpus max date,
    // order count, exact cents), then three deterministic quintile
    // scores over unique (metric, custkey) orders, composed into a
    // 3-digit segment code. Integer-exact throughout (day arithmetic via
    // datediff, money in cents). Each quintile is DISTRIBUTED:
    // [[graft.Qh.globalRowNumber]] + exact [[graft.Qh.ntileFromRn]]
    // arithmetic — descending metrics rank by the negated column. The
    // frequency metric is exactly the tie-skew case the helper's
    // composite bucketing exists for: ~dozens of distinct order counts
    // over every customer, so value-only buckets would serialize; the
    // (metric, custkey) composite spreads ties by the unique key. The
    // per-customer rfm table is localCheckpoint'd once so the three
    // rankings' bounds/counts passes don't re-aggregate orders. Output:
    // per-segment customer counts + exact aggregates (customer-level
    // scores are the intermediate; the segment rollup stays bounded).
    "q73_rfm_segments" -> QueryDef(
      (s, d) => {
        val o = tbl(s, d, "orders")
          .select(col("o_custkey"), col("o_orderdate").cast("date").as("day"),
            cents(col("o_totalprice")).as("price_c"))
        val maxDay = o.agg(max(col("day")).as("max_day"))
        val rfm = o.crossJoin(broadcast(maxDay))
          .groupBy("o_custkey")
          .agg(min(datediff(col("max_day"), col("day"))).cast("long").as("recency_d"),
            count(lit(1)).as("frequency"), sum(col("price_c")).as("monetary_c"))
          .localCheckpoint()
        // r14: the three quintile rankings run FUSED — one bounds job and
        // one bucket-count job for all three metrics instead of 2 per
        // metric (6 serial control-plane jobs → 2), identical rn values.
        val ranked = globalRowNumbers(rfm, Seq(
            col("recency_d") -> "__rn_r",
            (-col("frequency")) -> "__rn_f",
            (-col("monetary_c")) -> "__rn_m"),
          col("o_custkey"))
        ranked.df
          .withColumn("r_score", ntileFromRn("__rn_r", ranked.n, 5L))
          .withColumn("f_score", ntileFromRn("__rn_f", ranked.n, 5L))
          .withColumn("m_score", ntileFromRn("__rn_m", ranked.n, 5L))
          .drop("__rn_r", "__rn_f", "__rn_m")
          .withColumn("segment",
            col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
          .groupBy("segment")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("monetary_c")).as("sum_monetary_c"),
            min(col("o_custkey")).as("example_custkey"))
          .orderBy("segment")
      },
      Some("""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
             |    CAST(round(o_totalprice*100) AS BIGINT) AS price_c FROM orders),
             |mx AS (SELECT max(day) AS max_day FROM o),
             |rfm AS (SELECT o_custkey,
             |    CAST(min(CAST(divide(epoch_us(CAST(max_day AS TIMESTAMP))
             |      - epoch_us(CAST(day AS TIMESTAMP)), 86400000000) AS BIGINT)) AS BIGINT) AS recency_d,
             |    CAST(count(*) AS BIGINT) AS frequency,
             |    CAST(sum(price_c) AS BIGINT) AS monetary_c
             |  FROM o CROSS JOIN mx GROUP BY o_custkey),
             |sc AS (SELECT o_custkey, monetary_c,
             |    CAST(ntile(5) OVER (ORDER BY recency_d ASC, o_custkey) AS BIGINT) AS r_score,
             |    CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_score,
             |    CAST(ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey) AS BIGINT) AS m_score
             |  FROM rfm)
             |SELECT r_score * 100 + f_score * 10 + m_score AS segment,
             |  CAST(count(*) AS BIGINT) AS n_customers,
             |  CAST(sum(monetary_c) AS BIGINT) AS sum_monetary_c,
             |  CAST(min(o_custkey) AS BIGINT) AS example_custkey
             |FROM sc GROUP BY 1 ORDER BY segment""".stripMargin),
      doc = "RFM quintile segmentation: exact integer recency/frequency/" +
        "monetary, deterministic ntiles, bounded per-segment rollup"),

    // Q88 — referential-integrity orphan audit across the whole star
    // schema: for each FK edge, the child rows whose key matches no
    // parent (the anti-entropy check every warehouse runs before
    // training joins; a silent orphan becomes a silently-dropped row in
    // every inner join downstream — q04/q09's results are only trustable
    // because this reads 0). One row per relation: child count, orphan
    // count, orphan ppm. Scale shape: one LEFT ANTI join per edge — the
    // parent side is the JOIN BUILD side and broadcasts when small
    // (nation/region always; customer/part under AQE thresholds at
    // higher sf the anti join shuffles on the FK, which is exactly the
    // right plan); counts are 1-row rollups unioned into a fixed
    // 7-row result.
    "q88_fk_orphans" -> QueryDef(
      (s, d) => {
        def audit(rel: String, child: org.apache.spark.sql.DataFrame, fk: String,
            parent: org.apache.spark.sql.DataFrame, pk: String)
            : org.apache.spark.sql.DataFrame = {
          val total = child.agg(count(lit(1)).as("n_child"))
          val orphans = child
            .join(parent.select(col(pk).as(fk)), Seq(fk), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
          total.crossJoin(broadcast(orphans))
            .select(lit(rel).as("relation"), col("n_child"), col("n_orphans"),
              expr("n_orphans * 1000000 div n_child").as("orphan_ppm"))
        }
        val o = tbl(s, d, "orders"); val li = tbl(s, d, "lineitem")
        val c = tbl(s, d, "customer"); val su = tbl(s, d, "supplier")
        val p = tbl(s, d, "part"); val n = tbl(s, d, "nation")
        val r = tbl(s, d, "region")
        Seq(
          audit("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
          audit("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
          audit("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
          audit("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"),
          audit("nation.n_regionkey->region", n, "n_regionkey", r, "r_regionkey"),
          audit("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
          audit("supplier.s_nationkey->nation", su, "s_nationkey", n, "n_nationkey"))
          .reduce(_.unionAll(_))
          .orderBy("relation")
      },
      Some {
        def sql(rel: String, child: String, fk: String, parent: String,
            pk: String): String =
          s"""SELECT '$rel' AS relation,
             |  (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_child,
             |  (SELECT CAST(count(*) AS BIGINT) FROM $child
             |   WHERE NOT EXISTS (SELECT 1 FROM $parent WHERE $pk = $fk)) AS n_orphans,
             |  CAST(divide((SELECT count(*) FROM $child
             |      WHERE NOT EXISTS (SELECT 1 FROM $parent WHERE $pk = $fk)) * 1000000,
             |    (SELECT count(*) FROM $child)) AS BIGINT) AS orphan_ppm""".stripMargin
        Seq(
          sql("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
          sql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          sql("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
          sql("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
          sql("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
          sql("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
          sql("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
      },
      doc = "referential-integrity orphan audit over all 7 FK edges of " +
        "the star schema: LEFT ANTI join per edge, exact orphan ppm, " +
        "fixed 7-row result"),

    // Q96 — exact-integer OLS regression: retail price (cents) on part
    // size — the general linear-trend operator (Spark's regr_slope /
    // regr_intercept are float-sum aggregates whose low bits depend on
    // partition order; this house-style form accumulates the four
    // co-moments as exact 64-bit integers, so numerator and denominator
    // are bit-identical in both engines and the milli-slope is a
    // sign-safe truncating division). text_zipf_slope is this same
    // estimator on a log-log frequency spectrum; this is the plain
    // linear form any metric-vs-metric trend reads. 64-bit bound:
    // 1000·n·Σxy needs < 2⁶³ — holds to ~9e15 row·x·y mass; past that
    // promote to DECIMAL(38,0). One scan, one 1-row aggregate.
    "q96_price_size_ols" -> QueryDef(
      (s, d) => {
        tbl(s, d, "part")
          .select(col("p_size").cast("long").as("x"),
            cents(col("p_retailprice")).as("y"))
          .agg(count(lit(1)).as("n_parts"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .withColumn("slope_num", expr("n_parts * sxy - sx * sy"))
          .withColumn("slope_den", expr("n_parts * sxx - sx * sx"))
          .withColumn("slope_milli",
            expr("case when slope_num >= 0 then slope_num * 1000 div slope_den" +
              " else -((-slope_num) * 1000 div slope_den) end"))
          .select(col("n_parts"), col("sx"), col("sy"), col("sxy"), col("sxx"),
            col("slope_num"), col("slope_den"), col("slope_milli"))
      },
      Some("""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n_parts,
             |    CAST(sum(p_size) AS BIGINT) AS sx,
             |    CAST(sum(CAST(round(p_retailprice*100) AS BIGINT)) AS BIGINT) AS sy,
             |    CAST(sum(p_size * CAST(round(p_retailprice*100) AS BIGINT)) AS BIGINT) AS sxy,
             |    CAST(sum(p_size * p_size) AS BIGINT) AS sxx
             |  FROM part)
             |SELECT n_parts, sx, sy, sxy, sxx,
             |  CAST(n_parts * sxy - sx * sy AS BIGINT) AS slope_num,
             |  CAST(n_parts * sxx - sx * sx AS BIGINT) AS slope_den,
             |  CAST(CASE WHEN n_parts * sxy - sx * sy >= 0
             |    THEN divide((n_parts * sxy - sx * sy) * 1000, n_parts * sxx - sx * sx)
             |    ELSE -divide(-(n_parts * sxy - sx * sy) * 1000, n_parts * sxx - sx * sx)
             |    END AS BIGINT) AS slope_milli
             |FROM m""".stripMargin),
      doc = "exact-integer OLS slope of price-cents on part size: " +
        "order-independent 64-bit co-moments (vs regr_slope's float " +
        "sums), sign-safe milli-slope division"),

    // Q100 — k-anonymity audit over the customer quasi-identifier
    // (nation, market segment, $1000 balance band): how many people
    // share each QI combination, banded by the k that matters for
    // re-identification risk (k=1 unique → identifiable; 2–4 weak;
    // 5–9 borderline; 10+ safe under the usual k≥10 release rule).
    // text_pii_redact scrubs direct identifiers; THIS measures the
    // indirect ones — the release gate a training-data pipeline runs
    // before shipping any user-derived table. All exact integers; the
    // balance band shifts cents by +100000 before the truncating div
    // so the one negative-balance band doesn't straddle zero (div
    // truncates toward zero in both engines — unshifted, -500 and
    // +500 would collapse into one band). Scale shape: one scan, one
    // QI hash agg (bounded by the QI domain), a ≤4-row band agg, a
    // broadcast 1-row total.
    "q100_kanonymity" -> QueryDef(
      (s, d) => {
        val g = tbl(s, d, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"),
            cents(col("c_acctbal")).as("bc"))
          .groupBy(col("c_nationkey"), col("c_mktsegment"),
            expr("(bc + 100000) div 100000").as("bal_band"))
          .agg(count(lit(1)).as("k"))
          .localCheckpoint() // bands + the 1-row total
        val bands = g
          .withColumn("band_lo",
            when(col("k") === 1L, 1L).when(col("k") <= 4L, 2L)
              .when(col("k") <= 9L, 5L).otherwise(10L))
          .groupBy("band_lo")
          .agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_rows"))
        val tot = g.agg(sum(col("k")).as("n_all"))
        bands.crossJoin(broadcast(tot))
          .withColumn("band",
            when(col("band_lo") === 1L, "k=1")
              .when(col("band_lo") === 2L, "k=2-4")
              .when(col("band_lo") === 5L, "k=5-9").otherwise("k>=10"))
          .withColumn("rows_ppm", expr("n_rows * 1000000 div n_all"))
          .select(col("band_lo"), col("band"), col("n_groups"),
            col("n_rows"), col("rows_ppm"))
          .orderBy("band_lo")
      },
      Some("""WITH g AS (SELECT c_nationkey, c_mktsegment,
             |    divide(CAST(round(c_acctbal*100) AS BIGINT) + 100000, 100000) AS bal_band,
             |    CAST(count(*) AS BIGINT) AS k
             |  FROM customer GROUP BY 1, 2, 3),
             |b AS (SELECT CASE WHEN k = 1 THEN 1 WHEN k <= 4 THEN 2
             |      WHEN k <= 9 THEN 5 ELSE 10 END AS band_lo,
             |    CAST(count(*) AS BIGINT) AS n_groups,
             |    CAST(sum(k) AS BIGINT) AS n_rows
             |  FROM g GROUP BY 1),
             |tot AS (SELECT CAST(sum(k) AS BIGINT) AS n_all FROM g)
             |SELECT CAST(band_lo AS BIGINT) AS band_lo,
             |  CASE WHEN band_lo = 1 THEN 'k=1' WHEN band_lo = 2 THEN 'k=2-4'
             |       WHEN band_lo = 5 THEN 'k=5-9' ELSE 'k>=10' END AS band,
             |  n_groups, n_rows,
             |  CAST(divide(n_rows * 1000000, n_all) AS BIGINT) AS rows_ppm
             |FROM b CROSS JOIN tot ORDER BY band_lo""".stripMargin),
      doc = "k-anonymity release audit over the (nation, segment, " +
        "$1000-balance) quasi-identifier: exact group-size bands with " +
        "ppm of rows at each re-identification risk level"),

    // Q101 — approximate functional-dependency audit: for each declared
    // candidate FD lhs→rhs, the exact g3 measure (Kivinen–Mannila: the
    // minimum rows to DELETE for the FD to hold = Σ_lhs (group − its
    // majority rhs)) plus how many lhs groups violate at all. q88 FK
    // orphans audit the schema's declared EDGES; this audits its
    // IMPLIED determinations — the data-contract discovery pass that
    // tells a pipeline "source almost determines lang (fix the 2%) vs
    // user_id does not determine event_type (don't pretend)". All
    // exact integers. Scale shape per edge: one scan → a (lhs, rhs)
    // hash agg → an lhs re-agg → a 1-row rollup; the 5-edge union is
    // 5 independent bounded pipelines.
    "q101_fd_audit" -> QueryDef(
      (s, d) => {
        def g3(table: String, lhs: String, rhs: String): org.apache.spark.sql.DataFrame =
          tbl(s, d, table)
            .groupBy(col(lhs).as("l"), col(rhs).as("r"))
            .agg(count(lit(1)).as("cnt"))
            .groupBy("l")
            .agg(sum(col("cnt")).as("total"), max(col("cnt")).as("keep"),
              count(lit(1)).as("variants"))
            .agg(sum(col("total")).as("n_rows"),
              count(lit(1)).as("n_lhs"),
              sum(when(col("variants") > 1L, 1L).otherwise(0L)).as("n_viol_lhs"),
              sum(col("total") - col("keep")).as("g3_rows"))
            .withColumn("edge", lit(s"$table.$lhs->$rhs"))
            .withColumn("g3_ppm", expr("g3_rows * 1000000 div n_rows"))
            .select(col("edge"), col("n_rows"), col("n_lhs"),
              col("n_viol_lhs"), col("g3_rows"), col("g3_ppm"))
        g3("orders", "o_custkey", "o_orderpriority")
          .union(g3("lineitem", "l_partkey", "l_suppkey"))
          .union(g3("events", "user_id", "event_type"))
          .union(g3("documents", "source", "lang"))
          .union(g3("customer", "c_nationkey", "c_mktsegment"))
          .orderBy("edge")
      },
      Some {
        def g3Sql(table: String, lhs: String, rhs: String): String =
          s"""SELECT '$table.$lhs->$rhs' AS edge,
             |  CAST(sum(total) AS BIGINT) AS n_rows,
             |  CAST(count(*) AS BIGINT) AS n_lhs,
             |  CAST(sum(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol_lhs,
             |  CAST(sum(total - keep) AS BIGINT) AS g3_rows,
             |  CAST(divide(sum(total - keep) * 1000000, sum(total)) AS BIGINT) AS g3_ppm
             |FROM (SELECT l, CAST(sum(cnt) AS BIGINT) AS total,
             |      CAST(max(cnt) AS BIGINT) AS keep,
             |      CAST(count(*) AS BIGINT) AS variants
             |    FROM (SELECT $lhs AS l, $rhs AS r, CAST(count(*) AS BIGINT) AS cnt
             |          FROM $table GROUP BY 1, 2) GROUP BY l)""".stripMargin
        s"""${g3Sql("orders", "o_custkey", "o_orderpriority")}
           |UNION ALL
           |${g3Sql("lineitem", "l_partkey", "l_suppkey")}
           |UNION ALL
           |${g3Sql("events", "user_id", "event_type")}
           |UNION ALL
           |${g3Sql("documents", "source", "lang")}
           |UNION ALL
           |${g3Sql("customer", "c_nationkey", "c_mktsegment")}
           |ORDER BY edge""".stripMargin
      },
      doc = "approximate-FD audit over 5 declared candidate edges: " +
        "exact g3 delete-repair size and violating-group counts per " +
        "edge — the implied-determination complement to q88's FK edges"),

    // Q102 — market-basket affinity: support, both confidences, and
    // lift for every brand pair over order baskets — the co-purchase
    // association table (q94 measures USER-set overlap between event
    // types; this measures BASKET co-occurrence with the association-
    // rule semantics: lift > 1000 milli = bought together more than
    // independence predicts). Exact integers: presence is the deduped
    // (order, brand) relation via the part dim join; the ≤|brands|²
    // pair grid is built from the tiny sizes relation so never-co-
    // bought pairs surface as explicit 0 rows (q94's omission guard).
    // lift_milli = n_both·n_orders·1000 div (n_a·n_b) is exact to
    // ~9e18 — fine to ~3e7 baskets·brand-pairs mass; past that promote
    // to DECIMAL(38,0) (q96's discipline). Scale shape: one fact scan,
    // one partkey equi-join, one distinct shuffle on (order, brand), a
    // basket-keyed self-join emitting ≤|brands|² pairs per order, a
    // bounded pair agg, broadcast sizes. The self-join's only
    // unbounded dimension is the per-order basket width, so it is
    // guarded by [[graft.Qh.requireBoundedBaskets]]: one pathological
    // 10⁴-brand order would emit 10⁸ pairs alone — refuse loudly
    // instead (raise spark.graft.basket.maxItems deliberately).
    "q102_basket_lift" -> QueryDef(
      (s, d) => {
        val pres = tbl(s, d, "lineitem")
          .join(tbl(s, d, "part").select(col("p_partkey").as("l_partkey"),
            col("p_brand")), Seq("l_partkey"))
          .select(col("l_orderkey"), col("p_brand")).distinct()
          .localCheckpoint() // sizes + both self-join sides + total
        // r14: n_orders is the basket count the bound guard already
        // aggregates — one rollup pass serves both (was a second full
        // countDistinct job over pres).
        val nOrders = Qh.requireBoundedBaskets(s, pres, "l_orderkey", "q102_basket_lift")
        Qh.pairOverlap(pres, "l_orderkey", "p_brand", "brand")
          .withColumn("n_orders", lit(nOrders))
          .withColumn("support_ppm", expr("n_both * 1000000 div n_orders"))
          .withColumn("conf_a_b_ppm", expr("n_both * 1000000 div n_a"))
          .withColumn("conf_b_a_ppm", expr("n_both * 1000000 div n_b"))
          .withColumn("lift_milli",
            expr("n_both * n_orders * 1000 div (n_a * n_b)"))
          .select(col("brand_a"), col("brand_b"), col("n_a"), col("n_b"),
            col("n_both"), col("support_ppm"), col("conf_a_b_ppm"),
            col("conf_b_a_ppm"), col("lift_milli"))
          .orderBy("brand_a", "brand_b")
      },
      Some(s"""WITH pres AS (SELECT DISTINCT l_orderkey, p_brand
             |  FROM lineitem JOIN part ON p_partkey = l_partkey),
             |no AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM pres),
             |${Qh.pairOverlapSql("l_orderkey", "p_brand", "brand")}
             |SELECT brand_a, brand_b, n_a, n_b, n_both,
             |  CAST(divide(n_both * 1000000, n_orders) AS BIGINT) AS support_ppm,
             |  CAST(divide(n_both * 1000000, n_a) AS BIGINT) AS conf_a_b_ppm,
             |  CAST(divide(n_both * 1000000, n_b) AS BIGINT) AS conf_b_a_ppm,
             |  CAST(divide(n_both * n_orders * 1000, n_a * n_b) AS BIGINT) AS lift_milli
             |FROM grid CROSS JOIN no
             |ORDER BY brand_a, brand_b""".stripMargin),
      doc = "market-basket brand affinity: exact support, directional " +
        "confidences, and lift over order baskets — never-co-bought " +
        "pairs surface as explicit zero rows"),

    // Q104 — discount elasticity per brand: the Pearson correlation
    // between a line discount (integer percent via the cents transform) and its quantity —
    // "does discounting this brand actually move volume?" — the
    // pricing-analytics read q96 (OLS) and q95 (autocorrelation) bound
    // from either side. q49's exact-integer co-moment discipline: all
    // five sums are order-independent 64-bit integers (pct ≤ 100,
    // qty ≤ ~50 — products bounded far under 2^63 at any corpus
    // scale), and the only floats are the final sqrt/divide on
    // identical integers, so round(r, 6) is bit-stable. One scan +
    // one partkey equi-join + a per-brand hash agg.
    "q104_discount_elasticity" -> QueryDef(
      (s, d) => {
        tbl(s, d, "lineitem")
          .join(tbl(s, d, "part").select(col("p_partkey").as("l_partkey"),
            col("p_brand")), Seq("l_partkey"))
          .select(col("p_brand"),
            cents(col("l_discount")).as("x"), // discount fraction in percent (0.05 -> 5)
            round(col("l_quantity")).cast("long").as("y"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_lines"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .withColumn("r6",
            round((col("n_lines") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (sqrt((col("n_lines") * col("sxx") - col("sx") * col("sx")).cast("double"))
                * sqrt((col("n_lines") * col("syy") - col("sy") * col("sy")).cast("double"))), 6))
          .select(col("p_brand"), col("n_lines"), col("sx"), col("sy"),
            col("sxy"), col("sxx"), col("syy"), col("r6"))
          .orderBy("p_brand")
      },
      Some("""WITH j AS (SELECT p_brand,
             |    CAST(round(l_discount*100) AS BIGINT) AS x,
             |    CAST(round(l_quantity) AS BIGINT) AS y
             |  FROM lineitem JOIN part ON p_partkey = l_partkey),
             |m AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(y * y) AS BIGINT) AS syy
             |  FROM j GROUP BY 1)
             |SELECT p_brand, n_lines, sx, sy, sxy, sxx, syy,
             |  round(CAST(n_lines * sxy - sx * sy AS DOUBLE)
             |    / (sqrt(CAST(n_lines * sxx - sx * sx AS DOUBLE))
             |       * sqrt(CAST(n_lines * syy - sy * sy AS DOUBLE))), 6) AS r6
             |FROM m ORDER BY p_brand""".stripMargin),
      doc = "per-brand discount-quantity Pearson correlation on exact " +
        "integer co-moments (discount as integer percent) — float only in " +
        "the final sqrt/divide on identical integers"),

    // Q108 — item-to-item collaborative filtering (the "customers who
    // bought X also bought Y" recommender read): top-3 neighbors per
    // part by co-purchase cosine over order baskets. q102's brand-level
    // lift generalized to the full part catalog — the candidate
    // generation stays a per-order self-join (basket size is bounded by
    // the order, ≤ ~7 lines in this schema, so the pair explode is
    // O(orders · basket²) — linear in the corpus, never all-pairs across
    // the catalog; [[graft.Qh.requireBoundedBaskets]] enforces the
    // boundedness instead of assuming it). Cosine is ranked by its SQUARE in exact integer ppm
    // (monotone for non-negatives, so the ranking is identical):
    // n_both²·10⁶ div (n_a·n_b) stays in 64-bit while per-pair co-counts
    // are ≤ ~3·10⁶; past that (planet-scale catalogs) the same ranking
    // re-scales to ppb-of-pre-divided terms — the formula is the scale
    // knob, the plan shape (self-join + hash agg + per-item window) is
    // already the 100 TB one. The top-3 window partitions by item —
    // parallel at any catalog size.
    "q108_item2item" -> QueryDef(
      (s, d) => {
        val pres = tbl(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
          .localCheckpoint() // sizes + both self-join sides; one scan
        Qh.requireBoundedBaskets(s, pres, "l_orderkey", "q108_item2item")
        // sizes joins back twice (n_a / n_b): materialize the per-part
        // rollup once instead of re-aggregating pres per use (r13
        // optimization round)
        val sizes = pres.groupBy("l_partkey").agg(count(lit(1)).as("sz"))
          .localCheckpoint()
        // r14: sizes is catalog-sized but its LogicalRDD hides that from
        // Catalyst — both n_a/n_b attach joins were re-shuffling AND
        // sorting the O(orders·basket²) co table against it. Broadcast
        // under the Qh.BroadcastRows cap (count is a free
        // read off the just-checkpointed rollup); at planet-scale
        // catalogs the former shuffle join stands.
        val nParts = sizes.count()
        val co = pres
          .join(pres.select(col("l_orderkey"), col("l_partkey").as("item_b")),
            Seq("l_orderkey"))
          .filter(col("l_partkey") =!= col("item_b"))
          .groupBy(col("l_partkey").as("item_a"), col("item_b"))
          .agg(count(lit(1)).as("n_both"))
        val w = Window.partitionBy("item_a")
          .orderBy(col("cos2_ppm").desc, col("n_both").desc, col("item_b"))
        co.join(bcastIfSmall(
            sizes.select(col("l_partkey").as("item_a"), col("sz").as("n_a")), nParts),
            Seq("item_a"))
          .join(bcastIfSmall(
            sizes.select(col("l_partkey").as("item_b"), col("sz").as("n_b")), nParts),
            Seq("item_b"))
          .withColumn("cos2_ppm",
            expr("n_both * n_both * 1000000 div (n_a * n_b)"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3L)
          .select(col("item_a"), col("rnk"), col("item_b"), col("n_a"),
            col("n_b"), col("n_both"), col("cos2_ppm"))
          .orderBy("item_a", "rnk")
      },
      Some("""WITH pres AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |sizes AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS sz
             |  FROM pres GROUP BY 1),
             |co AS (SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
             |    CAST(count(*) AS BIGINT) AS n_both
             |  FROM pres a JOIN pres b ON b.l_orderkey = a.l_orderkey
             |    AND a.l_partkey <> b.l_partkey
             |  GROUP BY 1, 2),
             |sc AS (SELECT item_a, item_b, sa.sz AS n_a, sb.sz AS n_b, n_both,
             |    CAST(divide(n_both * n_both * 1000000, sa.sz * sb.sz) AS BIGINT) AS cos2_ppm
             |  FROM co JOIN sizes sa ON sa.l_partkey = item_a
             |          JOIN sizes sb ON sb.l_partkey = item_b),
             |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY item_a
             |    ORDER BY cos2_ppm DESC, n_both DESC, item_b) AS BIGINT) AS rnk
             |  FROM sc)
             |SELECT item_a, rnk, item_b, n_a, n_b, n_both, cos2_ppm
             |FROM r WHERE rnk <= 3 ORDER BY item_a, rnk""".stripMargin),
      doc = "item-item co-purchase recommender: bounded basket self-join, " +
        "exact integer squared-cosine ppm ranking, per-item top-3 window"),

    // Q110 — 2-D skyline (Pareto frontier) over the part catalog:
    // the parts no other part beats on BOTH "cheapest line price"
    // (minimize) and "total quantity sold" (maximize) — the
    // assortment-analytics primitive behind "efficient frontier"
    // catalog views. Exact dominance semantics incl. ties (a dominator
    // must be strictly better somewhere; identical points co-survive).
    // The classic sort-sweep needs a GLOBAL "max qty among all strictly
    // cheaper parts" — an unpartitioned RANGE window that would funnel
    // the whole catalog through one task at 100×. Instead the same
    // two-pass bucket shape as [[graft.Qh.globalRowNumber]], folded for
    // prefix-MAX: one bounds pass; deterministic fixed-width price
    // buckets (equal prices always share a bucket, so "strictly earlier
    // bucket" ⇒ "strictly cheaper"); per-bucket max(qty) → a ≤256-row
    // driver prefix-max (control-plane read) broadcast back; bucket-
    // LOCAL RANGE window for the within-bucket strictly-cheaper max —
    // every stage parallel in the catalog size. Equal-price dominance
    // via a price-partitioned max. All integers; no floats anywhere.
    "q110_skyline" -> QueryDef(
      (s, d) => {
        val a = tbl(s, d, "lineitem")
          .select(col("l_partkey"), cents(col("l_extendedprice")).as("pc"),
            round(col("l_quantity")).cast("long").as("q"))
          .groupBy("l_partkey")
          .agg(min(col("pc")).as("price_c"), sum(col("q")).as("qty"))
          .localCheckpoint() // bounds pass + bucket counts + sweep reuse it
        val b = Qh.boundedHead(a.agg(min(col("price_c")), max(col("price_c"))),
          "q110 price bounds (global aggregate)")
        if (b.isNullAt(0)) { // empty catalog: oracle returns zero rows
          a.select(col("l_partkey"), col("price_c"), col("qty"))
        } else {
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        val width = math.max(1L, (hi - lo) / 256L + 1L)
        val bucketed = a.withColumn("bkt", expr(s"(price_c - ${lo}L) div ${width}L"))
        val spark = s
        import spark.implicits._
        val pre = {
          val maxes = Qh.boundedCollect(
            bucketed.groupBy("bkt").agg(max(col("qty")).as("m")), 256,
            "q110 bucket prefix-maxima (width = ceil(span/256))")
            .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
          var acc = -1L // exclusive prefix max over strictly earlier buckets
          maxes.map { case (k, m) => val o = (k, acc); acc = math.max(acc, m); o }
        }.toSeq.toDF("bkt", "pre_max")
        val wLoc = Window.partitionBy("bkt").orderBy("price_c")
          .rangeBetween(Window.unboundedPreceding, -1)
        val wEq = Window.partitionBy("price_c")
        bucketed.join(broadcast(pre), Seq("bkt"))
          .withColumn("max_cheaper",
            greatest(col("pre_max"), coalesce(max(col("qty")).over(wLoc), lit(-1L))))
          .withColumn("eq_max", max(col("qty")).over(wEq))
          .filter(col("max_cheaper") < col("qty") && col("eq_max") <= col("qty"))
          .select(col("l_partkey"), col("price_c"), col("qty"))
          .orderBy("price_c", "l_partkey")
        }
      },
      Some("""WITH a AS (SELECT l_partkey,
             |    CAST(min(round(l_extendedprice*100)) AS BIGINT) AS price_c,
             |    CAST(sum(round(l_quantity)) AS BIGINT) AS qty
             |  FROM lineitem GROUP BY 1),
             |w AS (SELECT l_partkey, price_c, qty,
             |    max(qty) OVER (ORDER BY price_c
             |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_cheaper,
             |    max(qty) OVER (PARTITION BY price_c) AS eq_max
             |  FROM a)
             |SELECT l_partkey, price_c, qty FROM w
             |WHERE coalesce(max_cheaper, -1) < qty AND eq_max <= qty
             |ORDER BY price_c, l_partkey""".stripMargin),
      doc = "2-D Pareto skyline (min price, max volume) via the bucketed " +
        "distributed prefix-max sweep — exact tie semantics, no " +
        "unpartitioned window, no all-pairs dominance join"),

    // Q111 — l-diversity release audit (Machanavajjhala et al.), the
    // q100 companion: k-anonymity bounds RE-IDENTIFICATION, this bounds
    // ATTRIBUTE DISCLOSURE — a quasi-identifier group where every
    // member shares one sensitive value (l = 1) leaks the attribute
    // even at k ≥ 10. QI = (nation, account-balance band) — q100's
    // grid minus the segment, which becomes the SENSITIVE attribute;
    // per QI group: size k, distinct sensitive values l, and the
    // majority share. Rolled into l-bands with the worst (largest)
    // majority share per band in exact ppm. Two hash aggs + a bounded
    // band rollup — one scan, parallel at any scale (QI grid ≪ rows,
    // and the per-(QI, value) pre-agg bounds the second stage exactly
    // like the q69/text_tfidf pre-agg discipline).
    "q111_l_diversity" -> QueryDef(
      (s, d) => {
        val c1 = tbl(s, d, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"),
            cents(col("c_acctbal")).as("bc"))
          .groupBy(col("c_nationkey"),
            expr("(bc + 100000) div 100000").as("bal_band"),
            col("c_mktsegment"))
          .agg(count(lit(1)).as("n"))
        val g = c1.groupBy("c_nationkey", "bal_band")
          .agg(sum(col("n")).as("k"), count(lit(1)).as("l"),
            max(col("n")).as("max_n"))
          .withColumn("share_ppm", expr("max_n * 1000000 div k"))
        g.withColumn("band_lo",
            when(col("l") === 1L, 1L).when(col("l") === 2L, 2L)
              .when(col("l") <= 4L, 3L).otherwise(5L))
          .groupBy("band_lo")
          .agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_rows"),
            max(col("share_ppm")).as("worst_share_ppm"))
          .withColumn("band",
            when(col("band_lo") === 1L, "l=1")
              .when(col("band_lo") === 2L, "l=2")
              .when(col("band_lo") === 3L, "l=3-4").otherwise("l>=5"))
          .select(col("band_lo"), col("band"), col("n_groups"),
            col("n_rows"), col("worst_share_ppm"))
          .orderBy("band_lo")
      },
      Some("""WITH c1 AS (SELECT c_nationkey,
             |    divide(CAST(round(c_acctbal*100) AS BIGINT) + 100000, 100000) AS bal_band,
             |    c_mktsegment, CAST(count(*) AS BIGINT) AS n
             |  FROM customer GROUP BY 1, 2, 3),
             |g AS (SELECT c_nationkey, bal_band, CAST(sum(n) AS BIGINT) AS k,
             |    CAST(count(*) AS BIGINT) AS l, CAST(max(n) AS BIGINT) AS max_n
             |  FROM c1 GROUP BY 1, 2),
             |s AS (SELECT *, CAST(divide(max_n * 1000000, k) AS BIGINT) AS share_ppm,
             |    CASE WHEN l = 1 THEN 1 WHEN l = 2 THEN 2
             |         WHEN l <= 4 THEN 3 ELSE 5 END AS band_lo
             |  FROM g)
             |SELECT band_lo, CASE WHEN band_lo = 1 THEN 'l=1' WHEN band_lo = 2 THEN 'l=2'
             |    WHEN band_lo = 3 THEN 'l=3-4' ELSE 'l>=5' END AS band,
             |  CAST(count(*) AS BIGINT) AS n_groups,
             |  CAST(sum(k) AS BIGINT) AS n_rows,
             |  CAST(max(share_ppm) AS BIGINT) AS worst_share_ppm
             |FROM s GROUP BY 1 ORDER BY band_lo""".stripMargin),
      doc = "l-diversity audit over (nation, balance-band) QI groups " +
        "with mktsegment sensitive: distinct-l bands, worst majority " +
        "share in exact ppm — the attribute-disclosure companion to q100")
    ,

    // Q115 — return-rate Wilson confidence intervals per brand: the
    // interval-estimation read every rate dashboard needs and a naive
    // ±1.96·√(p̂(1−p̂)/n) gets WRONG at small n or extreme p̂ (it
    // produces negative lower bounds; Wilson never does). Integer layer:
    // n lines, r returns per brand — exact. Float layer: the Wilson
    // score bounds from those two integers with z = 1.96 spelled as the
    // exact decimal constants z² = 3.8416, z²/2 = 1.9208, z²/4 = 0.9604
    // in BOTH engines (q99 discipline), then OUTWARD integer rounding
    // (floor(lo·1e6), ceil(hi·1e6)) — conservative ppm bounds and no
    // float column in the output at all. One scan + partkey join + hash
    // agg; the pair (n, r) is the sufficient statistic, so the formula
    // is constant-time per brand at any corpus scale.
    "q115_wilson_returns" -> QueryDef(
      (s, d) => {
        tbl(s, d, "lineitem")
          .join(tbl(s, d, "part").select(col("p_partkey").as("l_partkey"),
            col("p_brand")), Seq("l_partkey"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"),
            sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
          .withColumn("rate_ppm", expr("r * 1000000 div n"))
          .withColumn("lo_ppm", expr(
            "CAST(floor(((CAST(r AS DOUBLE) + 1.9208) - 1.96 * " +
              "sqrt(CAST(r AS DOUBLE) * CAST(n - r AS DOUBLE) / CAST(n AS DOUBLE) + 0.9604)) " +
              "/ (CAST(n AS DOUBLE) + 3.8416) * 1000000.0) AS BIGINT)"))
          .withColumn("hi_ppm", expr(
            "CAST(ceil(((CAST(r AS DOUBLE) + 1.9208) + 1.96 * " +
              "sqrt(CAST(r AS DOUBLE) * CAST(n - r AS DOUBLE) / CAST(n AS DOUBLE) + 0.9604)) " +
              "/ (CAST(n AS DOUBLE) + 3.8416) * 1000000.0) AS BIGINT)"))
          .select(col("p_brand"), col("n"), col("r"), col("rate_ppm"),
            col("lo_ppm"), col("hi_ppm"))
          .orderBy("p_brand")
      },
      Some("""WITH a AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
             |  FROM lineitem JOIN part ON p_partkey = l_partkey
             |  GROUP BY 1)
             |SELECT p_brand, n, r,
             |  CAST(divide(r * 1000000, n) AS BIGINT) AS rate_ppm,
             |  CAST(floor(((CAST(r AS DOUBLE) + 1.9208) - 1.96 *
             |    sqrt(CAST(r AS DOUBLE) * CAST(n - r AS DOUBLE) / CAST(n AS DOUBLE) + 0.9604))
             |    / (CAST(n AS DOUBLE) + 3.8416) * 1000000.0) AS BIGINT) AS lo_ppm,
             |  CAST(ceil(((CAST(r AS DOUBLE) + 1.9208) + 1.96 *
             |    sqrt(CAST(r AS DOUBLE) * CAST(n - r AS DOUBLE) / CAST(n AS DOUBLE) + 0.9604))
             |    / (CAST(n AS DOUBLE) + 3.8416) * 1000000.0) AS BIGINT) AS hi_ppm
             |FROM a ORDER BY p_brand""".stripMargin),
      doc = "per-brand return-rate Wilson 95% score intervals: exact " +
        "(n, r) sufficient statistics, identically-spelled float bounds " +
        "with outward ppm rounding — no float output columns"),

    // Q117 — fulfillment-latency SLA by priority: the order-date →
    // ship-date gap distribution per order priority — the operational
    // read behind "does URGENT actually ship faster?", and the
    // cross-table sibling of q103's within-stream dwell time. Exact
    // integer day gaps (datediff on dates — no epoch arithmetic to
    // drift), the q31-proven percentile↔quantile_cont pairing on
    // integers, mean in exact milli-days. One orderkey equi-join + a
    // bounded per-priority rollup; the join carries only three pruned
    // columns at any corpus scale.
    // r14: percentile() ObjectHashAggregate → [[Qh.gridPercentiles]]
    // counted (priority, lag_days) rollup — the lag domain is bounded
    // (~125 day values), so everything past the one corpus-sized grid
    // aggregation is grid-sized and whole-stage codegen.
    "q117_ship_latency" -> QueryDef(
      (s, d) => {
        val j = tbl(s, d, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"),
            col("l_shipdate").cast("date").as("ship_day"))
          .join(tbl(s, d, "orders").select(col("o_orderkey"),
            col("o_orderpriority"),
            col("o_orderdate").cast("date").as("order_day")), Seq("o_orderkey"))
          .withColumn("lag_days", datediff(col("ship_day"), col("order_day"))
            .cast("long"))
        gridPercentiles(j, Seq("o_orderpriority"), col("lag_days"),
            Seq("p50_d" -> 0.5, "p90_d" -> 0.9))
          .select(col("o_orderpriority"), col("__n").as("n"),
            col("__min").as("min_d"), col("p50_d"), col("p90_d"),
            col("__max").as("max_d"),
            expr("__sum * 1000 div __n").as("mean_milli"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH j AS (SELECT o_orderpriority,
             |    CAST(divide(epoch_us(CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP))
             |      - epoch_us(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)),
             |      86400000000) AS BIGINT) AS lag_days
             |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
             |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             |  CAST(min(lag_days) AS BIGINT) AS min_d,
             |  quantile_cont(lag_days, 0.5) AS p50_d,
             |  quantile_cont(lag_days, 0.9) AS p90_d,
             |  CAST(max(lag_days) AS BIGINT) AS max_d,
             |  CAST(divide(sum(lag_days) * 1000, count(*)) AS BIGINT) AS mean_milli
             |FROM j GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),
      doc = "order-to-ship latency distribution per priority: exact " +
        "integer day gaps, q31-proven percentile pairing, milli mean"),

    // Q118 — Lorenz curve of customer revenue: cumulative revenue share
    // by customer spend decile — the 80/20 concentration read q86's
    // Gini scalar summarizes but cannot show ("which decile carries the
    // mass?"). The corpus-wide ranking is the DISTRIBUTED two-pass
    // prefix-rank ([[graft.Qh.globalRowNumber]], spend-ascending with
    // custkey tiebreak) + exact [[graft.Qh.ntileFromRn]] — never an
    // unpartitioned ntile; the cumulative window then runs over the
    // 10-row decile AGGREGATE (fixed size at any corpus scale, the
    // text_clf_gains discipline). All integers: cents, ppm shares.
    "q118_lorenz_revenue" -> QueryDef(
      (s, d) => {
        val spend = tbl(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(cents(col("o_totalprice"))).as("cents"))
          .localCheckpoint() // bounds pass + ranked pass reuse it
        val ranked = globalRowNumber(spend, col("cents"), col("o_custkey"), "rn")
        val dec = ranked.df
          .withColumn("decile", ntileFromRn("rn", ranked.n, 10L))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"))
        val w = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = dec.agg(sum(col("cents")).as("t"))
        dec.crossJoin(broadcast(tot))
          .withColumn("cum_cents", sum(col("cents")).over(w))
          // ppm through a 128-bit intermediate (r12, caught by the sf1
          // scaling decade): corpus-total cents pass ~9.2e12 and the
          // BIGINT ×1e6 overflows under ANSI. DECIMAL(38,0) widens the
          // ENGINE; the oracle keeps plain BIGINT — it only ever runs at
          // test scale (≤ sf0.1, where BIGINT is exact), and HUGEINT
          // does not parse in spark.sql while DuckDB's divide(DECIMAL,…)
          // detours through DOUBLE (inexact past 2^53). Same floor-div
          // integers on both engines at every tested sf.
          .withColumn("cum_ppm",
            expr("CAST(cum_cents AS DECIMAL(38,0)) * 1000000 div t"))
          .select(col("decile"), col("n_customers"), col("cents"),
            col("cum_ppm"))
          .orderBy("decile")
      },
      Some("""WITH spend AS (SELECT o_custkey,
             |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders GROUP BY 1),
             |r AS (SELECT cents,
             |    CAST(ntile(10) OVER (ORDER BY cents, o_custkey) AS BIGINT) AS decile
             |  FROM spend),
             |d AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
             |    CAST(sum(cents) AS BIGINT) AS cents
             |  FROM r GROUP BY 1),
             |t AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM d)
             |SELECT decile, n_customers, cents,
             |  CAST(divide(sum(cents) OVER (ORDER BY decile
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000, t)
             |    AS BIGINT) AS cum_ppm
             |FROM d CROSS JOIN t ORDER BY decile""".stripMargin),
      doc = "customer-revenue Lorenz deciles via the distributed " +
        "prefix-rank; cumulative ppm over the 10-row aggregate — the " +
        "distributional face of q86's Gini"),

    // Q119 — hierarchical contribution drilldown: revenue by region →
    // nation → market segment with exact share-of-parent at every
    // level — the drilldown tree a BI layer renders, materialized as
    // one leaf-grain table (q13's rollup gives level TOTALS; this
    // gives each node's weight INSIDE its parent, which is what a
    // treemap actually needs). One fact scan, three broadcast dim
    // joins, one hash agg to the bounded (region, nation, segment)
    // grain, then three partitioned window sums over that bounded
    // table — no unpartitioned anything, parallel at any fact scale.
    "q119_contribution_tree" -> QueryDef(
      (s, d) => {
        val leaf = tbl(s, d, "orders")
          .join(tbl(s, d, "customer").select(col("c_custkey").as("o_custkey"),
            col("c_nationkey"), col("c_mktsegment")), Seq("o_custkey"))
          .join(broadcast(tbl(s, d, "nation").select(
            col("n_nationkey").as("c_nationkey"), col("n_name"),
            col("n_regionkey"))), Seq("c_nationkey"))
          .join(broadcast(tbl(s, d, "region").select(
            col("r_regionkey").as("n_regionkey"), col("r_name"))),
            Seq("n_regionkey"))
          .groupBy(col("r_name"), col("n_name"), col("c_mktsegment"))
          .agg(sum(cents(col("o_totalprice"))).as("cents"))
        val wN = Window.partitionBy("r_name", "n_name")
        val wR = Window.partitionBy("r_name")
        val wT = Window.partitionBy()
        leaf
          .withColumn("nation_cents", sum(col("cents")).over(wN))
          .withColumn("region_cents", sum(col("cents")).over(wR))
          .withColumn("total_cents", sum(col("cents")).over(wT))
          // 128-bit ppm intermediates (r12): region/total cents reach
          // ~1e13 one decade up — BIGINT ×1e6 overflows under ANSI
          .withColumn("share_nation_ppm",
            expr("CAST(cents AS DECIMAL(38,0)) * 1000000 div nation_cents"))
          .withColumn("share_region_ppm",
            expr("CAST(nation_cents AS DECIMAL(38,0)) * 1000000 div region_cents"))
          .withColumn("share_total_ppm",
            expr("CAST(region_cents AS DECIMAL(38,0)) * 1000000 div total_cents"))
          .select(col("r_name"), col("n_name"), col("c_mktsegment"),
            col("cents"), col("share_nation_ppm"), col("share_region_ppm"),
            col("share_total_ppm"))
          .orderBy("r_name", "n_name", "c_mktsegment")
      },
      Some("""WITH leaf AS (SELECT r_name, n_name, c_mktsegment,
             |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders
             |  JOIN customer ON c_custkey = o_custkey
             |  JOIN nation ON n_nationkey = c_nationkey
             |  JOIN region ON r_regionkey = n_regionkey
             |  GROUP BY 1, 2, 3),
             |w AS (SELECT r_name, n_name, c_mktsegment, cents,
             |    sum(cents) OVER (PARTITION BY r_name, n_name) AS nation_cents,
             |    sum(cents) OVER (PARTITION BY r_name) AS region_cents,
             |    sum(cents) OVER () AS total_cents
             |  FROM leaf)
             |SELECT r_name, n_name, c_mktsegment, cents,
             |  CAST(divide(cents * 1000000, nation_cents) AS BIGINT) AS share_nation_ppm,
             |  CAST(divide(nation_cents * 1000000, region_cents) AS BIGINT) AS share_region_ppm,
             |  CAST(divide(region_cents * 1000000, total_cents) AS BIGINT) AS share_total_ppm
             |FROM w ORDER BY r_name, n_name, c_mktsegment""".stripMargin),
      doc = "region→nation→segment contribution tree: leaf-grain exact " +
        "cents with share-of-parent ppm at all three levels via " +
        "partitioned window sums over the bounded dimension grain"),

    // Q121 — join-key skew audit: per candidate join/shuffle key, the
    // multiplicity profile that decides whether a plain hash join is
    // safe or the Skew.scala salting path is needed — the measurement
    // that LICENSES the skew mitigation family the way sim_ann_recall
    // licenses the ANN parameters. Per edge: rows N, distinct keys K,
    // max multiplicity, mean multiplicity in exact milli (N·1000 div
    // K), and the skew factor max/mean as max·K·1000 div N — a
    // hash-partitioned join's worst task is ~skew_x_milli/1000× the
    // average task, so skew_x ≫ cpu-count·1000 means salt. Each edge is
    // one two-level hash agg (key rollup then 1-row summary — fully
    // map-side combinable); the six summaries union into a bounded
    // verdict table. event_type is the deliberate pathological row
    // (K = 5): the audit must SHOW the disaster, not hide it.
    "q121_join_skew" -> QueryDef(
      (s, d) => {
        def edge(name: String, df: DataFrame, key: String) = df
          .groupBy(col(key).cast("string").as("k"))
          .agg(count(lit(1)).as("m"))
          .agg(sum(col("m")).as("n_rows"), count(lit(1)).as("n_keys"),
            max(col("m")).as("max_mult"))
          .select(lit(name).as("edge"), col("n_rows"), col("n_keys"),
            col("max_mult"),
            expr("n_rows * 1000 div n_keys").as("mean_milli"),
            expr("max_mult * n_keys * 1000 div n_rows").as("skew_x_milli"))
        edge("lineitem.l_orderkey", tbl(s, d, "lineitem"), "l_orderkey")
          .union(edge("lineitem.l_partkey", tbl(s, d, "lineitem"), "l_partkey"))
          .union(edge("lineitem.l_suppkey", tbl(s, d, "lineitem"), "l_suppkey"))
          .union(edge("orders.o_custkey", tbl(s, d, "orders"), "o_custkey"))
          .union(edge("events.user_id", tbl(s, d, "events"), "user_id"))
          .union(edge("events.event_type", tbl(s, d, "events"), "event_type"))
          .orderBy("edge")
      },
      Some("""WITH e1 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lineitem GROUP BY l_orderkey),
             |e2 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lineitem GROUP BY l_partkey),
             |e3 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lineitem GROUP BY l_suppkey),
             |e4 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM orders GROUP BY o_custkey),
             |e5 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM events GROUP BY user_id),
             |e6 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM events GROUP BY event_type),
             |u AS (
             |  SELECT 'lineitem.l_orderkey' AS edge, CAST(sum(m) AS BIGINT) AS n_rows,
             |    CAST(count(*) AS BIGINT) AS n_keys, CAST(max(m) AS BIGINT) AS max_mult FROM e1
             |  UNION ALL SELECT 'lineitem.l_partkey', CAST(sum(m) AS BIGINT),
             |    CAST(count(*) AS BIGINT), CAST(max(m) AS BIGINT) FROM e2
             |  UNION ALL SELECT 'lineitem.l_suppkey', CAST(sum(m) AS BIGINT),
             |    CAST(count(*) AS BIGINT), CAST(max(m) AS BIGINT) FROM e3
             |  UNION ALL SELECT 'orders.o_custkey', CAST(sum(m) AS BIGINT),
             |    CAST(count(*) AS BIGINT), CAST(max(m) AS BIGINT) FROM e4
             |  UNION ALL SELECT 'events.user_id', CAST(sum(m) AS BIGINT),
             |    CAST(count(*) AS BIGINT), CAST(max(m) AS BIGINT) FROM e5
             |  UNION ALL SELECT 'events.event_type', CAST(sum(m) AS BIGINT),
             |    CAST(count(*) AS BIGINT), CAST(max(m) AS BIGINT) FROM e6)
             |SELECT edge, n_rows, n_keys, max_mult,
             |  CAST(divide(n_rows * 1000, n_keys) AS BIGINT) AS mean_milli,
             |  CAST(divide(max_mult * n_keys * 1000, n_rows) AS BIGINT) AS skew_x_milli
             |FROM u ORDER BY edge""".stripMargin),
      doc = "join-key skew audit over six shuffle keys: exact N/K/max " +
        "multiplicity and the max-over-mean skew factor in milli — the " +
        "measurement that licenses (or spares) the salting path"),

    // Q124 — calendar dimension GENERATION: the densify-then-join
    // primitive behind every "no gaps" daily report (q46's LOCF fills a
    // user's series; this builds the conformed date spine everything
    // joins to). The span is derived from the fact table's own min/max
    // order date (one bounds row, broadcast), the spine is one
    // sequence-explode (never a driver loop), and the attributes are
    // pure date arithmetic: ISO weekday (q92 spelling), Monday-anchored
    // ISO week, month/quarter keys, weekend flag, and the day's order
    // count via a left join — zero-order days surface as explicit
    // n_orders = 0 rows, which is the entire point of a spine.
    "q124_calendar_dim" -> QueryDef(
      (s, d) => {
        val o = tbl(s, d, "orders")
          .select(col("o_orderdate").cast("date").as("day"))
        val span = o.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        val spine = span
          .select(explode(expr("sequence(lo, hi)")).as("day"))
        val counts = o.groupBy("day").agg(count(lit(1)).as("n_orders"))
        spine.join(counts, Seq("day"), "left")
          .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
          .withColumn("dow", expr("pmod(dayofweek(day) + 5, 7) + 1").cast("long"))
          .withColumn("iso_week", date_trunc("week", col("day")).cast("date"))
          .withColumn("month_key",
            (year(col("day")) * 100 + month(col("day"))).cast("long"))
          .withColumn("quarter_key",
            (year(col("day")) * 10 + quarter(col("day"))).cast("long"))
          .withColumn("is_weekend", col("dow") >= 6L)
          .select(col("day"), col("dow"), col("iso_week"), col("month_key"),
            col("quarter_key"), col("is_weekend"), col("n_orders"))
          .orderBy("day")
      },
      Some("""WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day FROM orders),
             |span AS (SELECT min(day) AS lo, max(day) AS hi FROM o),
             |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS dayt
             |          FROM span),
             |c AS (SELECT day, CAST(count(*) AS BIGINT) AS n_orders FROM o GROUP BY 1)
             |SELECT CAST(dayt AS DATE) AS day,
             |  CAST(isodow(dayt) AS BIGINT) AS dow,
             |  CAST(date_trunc('week', dayt) AS DATE) AS iso_week,
             |  CAST(year(dayt) * 100 + month(dayt) AS BIGINT) AS month_key,
             |  CAST(year(dayt) * 10 + quarter(dayt) AS BIGINT) AS quarter_key,
             |  isodow(dayt) >= 6 AS is_weekend,
             |  CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders
             |FROM spine LEFT JOIN c ON c.day = CAST(dayt AS DATE)
             |ORDER BY 1""".stripMargin),
      doc = "generated calendar spine over the fact span: sequence-" +
        "explode days with ISO dow/week, month/quarter keys, weekend " +
        "flag, and explicit zero-order days via left join"),

    // Q125 — revenue-mix diversification per nation (Gini-Simpson
    // index): 1 − Σ share² over market segments — "how concentrated is
    // this nation's revenue in one segment?" — the log-free diversity
    // measure (entropy needs libm; Simpson is pure integer arithmetic:
    // shares in exact ppm, their squares div 1e6 summed, subtracted
    // from 1e6). Perfectly even k-way mixes read ~1e6·(1−1/k), a
    // single-segment nation reads exactly 0 — the poles the planted
    // spec pins. One fact scan + custkey join, bounded (nation ×
    // segment) rollup, nation-partitioned window sum.
    "q125_mix_simpson" -> QueryDef(
      (s, d) => {
        val leaf = tbl(s, d, "orders")
          .join(tbl(s, d, "customer").select(col("c_custkey").as("o_custkey"),
            col("c_nationkey"), col("c_mktsegment")), Seq("o_custkey"))
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(sum(cents(col("o_totalprice"))).as("cents"))
        val w = Window.partitionBy("c_nationkey")
        leaf
          .withColumn("nation_cents", sum(col("cents")).over(w))
          // 128-bit ppm intermediate (r12) — same overflow class as
          // q118/q119; shares stay <= 1e6 so the Simpson square is safe
          .withColumn("share_ppm",
            expr("CAST(cents AS DECIMAL(38,0)) * 1000000 div nation_cents"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_segments"),
            max(col("share_ppm")).as("top_share_ppm"),
            (lit(1000000L) - sum(expr("share_ppm * share_ppm div 1000000")))
              .as("simpson_ppm"))
          .orderBy("c_nationkey")
      },
      Some("""WITH leaf AS (SELECT c_nationkey, c_mktsegment,
             |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders JOIN customer ON c_custkey = o_custkey
             |  GROUP BY 1, 2),
             |sh AS (SELECT c_nationkey,
             |    CAST(divide(cents * 1000000,
             |      sum(cents) OVER (PARTITION BY c_nationkey)) AS BIGINT) AS share_ppm
             |  FROM leaf)
             |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_segments,
             |  CAST(max(share_ppm) AS BIGINT) AS top_share_ppm,
             |  CAST(1000000 - sum(divide(share_ppm * share_ppm, 1000000)) AS BIGINT) AS simpson_ppm
             |FROM sh GROUP BY 1 ORDER BY c_nationkey""".stripMargin),
      doc = "Gini-Simpson revenue diversification per nation: exact ppm " +
        "segment shares, 1e6 − Σ share² div 1e6 — log-free concentration " +
        "with exact single-segment-zero and even-mix poles"),

    // Q126 — the 80/20 point: the SMALLEST top-spender count whose
    // cumulative revenue reaches 80% — q118's Lorenz deciles answer
    // "what does each tenth carry", this answers the inverse executive
    // question "how few customers carry 80%?" EXACTLY. The cumulative
    // revenue in descending-spend rank order is a global prefix-SUM —
    // the third fold of the two-pass bucket family (prefix-rank =
    // [[graft.Qh.globalRowNumber]], prefix-max = q110, prefix-sum =
    // here): rank customers via the distributed prefix-rank, bucket on
    // the rank (width known from the same pass — no extra job),
    // per-bucket cent sums → ≤256-row driver exclusive prefix →
    // broadcast → bucket-local running sum + offset = the exact global
    // cumulative, every stage parallel. The crossing is a filter +
    // 1-row min (cumulative is monotone: revenue is non-negative).
    // All integers; cum·5 ≥ total·4 avoids any division.
    "q126_pareto_8020" -> QueryDef(
      (s, d) => {
        val spend = tbl(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(cents(col("o_totalprice"))).as("cents"))
          .localCheckpoint() // rank bounds pass + bucket sums reuse it
        val ranked = globalRowNumber(spend, -col("cents"), col("o_custkey"), "rn")
        val n = ranked.n
        val width = math.max(1L, (n - 1) / 256L + 1L)
        val bucketed = ranked.df
          .withColumn("bkt", expr(s"(rn - 1) div ${width}L"))
          .localCheckpoint() // offsets collect + the cumsum pass
        val spark = s
        import spark.implicits._
        val offs = {
          val sums = Qh.boundedCollect(
            bucketed.groupBy("bkt").agg(sum(col("cents")).as("sc")), 256,
            "cumsum bucket offsets (width = ceil(n/256))")
            .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
          var acc = 0L
          sums.map { case (k, sc) => val o = (k, acc); acc += sc; o }
        }.toSeq.toDF("bkt", "off")
        val wLoc = Window.partitionBy("bkt").orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = spend.agg(sum(col("cents")).as("t"))
        bucketed.join(broadcast(offs), Seq("bkt"))
          .withColumn("cum", sum(col("cents")).over(wLoc) + col("off"))
          .crossJoin(broadcast(tot))
          .filter(col("cum") * 5L >= col("t") * 4L)
          .agg(min(col("rn")).as("k80"), max(col("t")).as("t"))
          .select(lit(n).as("n_customers"), col("k80"),
            expr(s"k80 * 1000000 div ${n}L").as("k80_share_ppm"), col("t"))
          .orderBy("k80")
      },
      Some("""WITH spend AS (SELECT o_custkey,
             |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders GROUP BY 1),
             |r AS (SELECT o_custkey, cents,
             |    CAST(row_number() OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS rn
             |  FROM spend),
             |c AS (SELECT rn, CAST(sum(cents) OVER (ORDER BY rn
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             |  FROM r),
             |t AS (SELECT CAST(sum(cents) AS BIGINT) AS t,
             |             CAST(count(*) AS BIGINT) AS n FROM spend)
             |SELECT n AS n_customers, CAST(min(rn) AS BIGINT) AS k80,
             |  CAST(divide(min(rn) * 1000000, n) AS BIGINT) AS k80_share_ppm, t
             |FROM c CROSS JOIN t WHERE cum * 5 >= t * 4
             |GROUP BY n, t ORDER BY k80""".stripMargin),
      doc = "exact 80/20 crossing: distributed bucketed prefix-SUM over " +
        "the descending-spend ranking (the prefix-rank/prefix-max " +
        "family's third fold) — smallest top-customer count reaching " +
        "80% of revenue, pure integers")
  )

  /** q54's single text — the builder runs the oracle verbatim through
    * spark.sql (the decorrelation rewrite is the operator under test).
    * lazy: referenced from `defs` above, which initializes first (the
    * [[graft.Qh]] object-init-order trap). */
  private lazy val CorrelatedSql: String =
    """WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice,
      |    CAST(round(o_totalprice*100) AS BIGINT) AS price_c FROM orders)
      |SELECT o_orderkey, o_custkey, o_totalprice
      |FROM o
      |WHERE price_c * (SELECT CAST(count(*) AS BIGINT) FROM o o2
      |                 WHERE o2.o_custkey = o.o_custkey)
      |      > 2 * (SELECT CAST(sum(o2.price_c) AS BIGINT) FROM o o2
      |             WHERE o2.o_custkey = o.o_custkey)
      |  AND EXISTS (SELECT 1 FROM customer c
      |              WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 1000)
      |ORDER BY o_orderkey""".stripMargin
}

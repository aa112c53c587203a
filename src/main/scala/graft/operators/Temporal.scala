package graft.operators

import graft.{QueryDef, Qh}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal operators over the `events` stream table: as-of join,
  * sessionization, rolling event-time windows — the time-series family
  * the reference's serving layer reads off DynamoDB and every
  * training-data pipeline needs for event-context features.
  *
  * Scale design: every operator here is ONE shuffle on the entity key
  * (user_id) followed by window functions — never a per-row lookup or a
  * range cross-join. The as-of join in particular uses the union-merge
  * formulation (tag sides, sort once, carry-forward) instead of a
  * correlated probe: at 100 TB the probe-per-row shape is a nested-loop
  * disaster, while union-merge is exactly one sort-merge pass.
  */
object Temporal {
  import Qh._

  /** Generic as-of join: for each `probe` row, the latest `build` row with
    * the same `key` and `ts` <= the probe's (ties on ts included,
    * tie-broken by the largest `ord`). Both inputs are unioned with a side
    * tag, sorted once per key, and the build payload is carried forward
    * with last(ignoreNulls) — one shuffle, no correlated lookups, the
    * standard distributed as-of formulation. `payload` columns must exist
    * in `build`; probe columns are preserved.
    *
    * The payload travels as ONE struct (null exactly on probe rows), so
    * last(ignoreNulls) selects the latest build ROW even when individual
    * payload FIELDS are null — a per-column carry would skip a null field
    * back to an older row and could stitch fields from different rows. */
  def asofJoin(probe: DataFrame, build: DataFrame, key: String, ts: String,
      ord: String, payload: Seq[String]): DataFrame = {
    val pCols = probe.columns.toSeq
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(c => org.apache.spark.sql.types.StructField(c, build.schema(c).dataType)))
    val pTagged = probe.select(
      (pCols.map(col) :+ lit(null).cast(payloadType).as("__b") :+ lit(1).as("__side")): _*)
    val bTagged = build.select(
      (pCols.map(c => (if (c == key || c == ts || c == ord) col(c) else lit(null).cast(probe.schema(c).dataType)).as(c)) :+
        struct(payload.map(col): _*).as("__b") :+ lit(0).as("__side")): _*)
    val w = Window.partitionBy(key).orderBy(col(ts), col("__side"), col(ord))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pTagged.union(bTagged)
      .withColumn("__asof", last(col("__b"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select((pCols.map(col) ++
        payload.map(c => col(s"__asof.$c").as(s"asof_$c"))): _*)
  }

  /** Batch sessionization: split each user's event stream at silence gaps
    * > `gapSec`, assign ordinal session ids via a running sum of
    * new-session flags — the batch analog of SQ5's session_window
    * (equivalence spec'd in StreamingSpec; sole divergence is the exact-
    * gap boundary, where session_window's exclusive window end starts a
    * new session and this strict `>` does not). */
  def sessionize(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapSec * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
      .withColumn("new_sess",
        when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_sess")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** The 7 between-group sum-of-squares terms and the non-empty-group
    * count for q116, as ONE literal expression string interpolated into
    * BOTH the Spark plan and the DuckDB oracle — identical float op
    * order by construction. Declared BEFORE `defs` (the oracle text is
    * built eagerly at object init — a later val would read null). */
  private val AnovaSsbTerms: String = (1 to 7).map(g =>
    s"CASE WHEN n$g > 0 THEN CAST(s$g AS DOUBLE) * CAST(s$g AS DOUBLE) " +
      s"/ CAST(n$g AS DOUBLE) ELSE 0.0 END").mkString(" + ")
  private val AnovaKTerms: String = (1 to 7).map(g =>
    s"CASE WHEN n$g > 0 THEN 1 ELSE 0 END").mkString(" + ")

  val defs: Seq[(String, QueryDef)] = Seq(

    // Q32 — as-of join: each purchase picks up the value of the same
    // user's most recent click at-or-before it. Union-merge formulation:
    // one shuffle on user_id; deterministic tie-break (max ts, then max
    // event_id). The oracle states the same rule as a correlated top-1 —
    // fine for DuckDB at sf, the exact shape the Spark side exists to
    // avoid at 100 TB.
    "q32_asof_join" -> QueryDef(
      (s, d) => {
        val ev = tbl(s, d, "events")
        val probe = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        val build = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts"), cents(col("value")).as("click_cents"))
        asofJoin(probe, build, "user_id", "ts", "event_id", Seq("click_cents"))
          .select(col("user_id"), col("event_id"), col("asof_click_cents"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (SELECT user_id, ts, event_id, CAST(round(value*100) AS BIGINT) AS click_cents
             |           FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
             |SELECT p.user_id, p.event_id,
             |  (SELECT b.click_cents FROM b
             |   WHERE b.user_id = p.user_id AND b.ts <= p.ts
             |   ORDER BY b.ts DESC, b.event_id DESC LIMIT 1) AS asof_click_cents
             |FROM p ORDER BY event_id""".stripMargin),
      doc = "union-merge as-of join (one shuffle); oracle is the correlated top-1 form"),

    // Q33 — sessionization + per-session rollup. Gap rule: > 30 min of
    // user silence starts a new session.
    "q33_sessionize" -> QueryDef(
      (s, d) =>
        sessionize(tbl(s, d, "events"))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"),
            count(lit(1)).as("n_events"), sum(cents(col("value"))).as("sum_cents"))
          .orderBy("user_id", "session_idx"),
      Some("""WITH o AS (
             |  SELECT user_id, event_id, ts, CAST(round(value*100) AS BIGINT) AS cents,
             |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
             |  FROM events),
             |f AS (
             |  SELECT user_id, event_id, ts, cents,
             |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM o),
             |sid AS (
             |  SELECT user_id, ts, cents,
             |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
             |  FROM f)
             |SELECT user_id, session_idx, min(ts) AS sess_start, max(ts) AS sess_end,
             |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM sid GROUP BY user_id, session_idx
             |ORDER BY user_id, session_idx""".stripMargin),
      doc = "gap-based batch sessionization; batch analog of SQ5 session_window"),

    // Q34 — rolling event-time window: per event, the user's spend over
    // the preceding hour (RANGE frame on epoch micros — peers at equal
    // ts are all included, so tie order cannot affect the result).
    "q34_rolling_window" -> QueryDef(
      (s, d) =>
        tbl(s, d, "events")
          .withColumn("roll_cents",
            sum(cents(col("value"))).over(
              Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
                .rangeBetween(-3600L * 1000000L, 0L)))
          .select(col("event_id"), col("user_id"), col("roll_cents"))
          .orderBy("event_id"),
      Some("""SELECT event_id, user_id,
             |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER (
             |    PARTITION BY user_id ORDER BY epoch_us(ts)
             |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents
             |FROM events ORDER BY event_id""".stripMargin),
      doc = "per-user rolling 1h spend via RANGE frame on event time"),

    // Q35 — ordered funnel view → click → purchase: each stage counts the
    // users whose first qualifying event strictly follows their previous
    // stage's first event. Three per-user min-aggregations chained by
    // user_id equi-joins — no window over the full stream, no per-row
    // probe; each stage's input shrinks to the surviving users.
    "q35_funnel" -> QueryDef(
      (s, d) => {
        val ev = tbl(s, d, "events")
        def firstAfter(typ: String, prev: DataFrame, prevTs: String, outTs: String) =
          ev.filter(col("event_type") === typ)
            .join(prev, Seq("user_id"))
            .filter(col("ts") > col(prevTs))
            .groupBy("user_id").agg(min(col("ts")).as(outTs))
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("v_ts"))
        val c = firstAfter("click", v, "v_ts", "c_ts")
        val p = firstAfter("purchase", c, "c_ts", "p_ts")
        val one = (df: DataFrame, stage: String, ord: Long) =>
          df.agg(count(lit(1)).as("n_users"))
            .select(lit(stage).as("stage"), lit(ord).as("stage_ord"), col("n_users"))
        one(v, "view", 1L).union(one(c, "click", 2L)).union(one(p, "purchase", 3L))
          .orderBy("stage_ord")
      },
      Some("""WITH v AS (SELECT user_id, min(ts) v_ts FROM events WHERE event_type = 'view' GROUP BY user_id),
             |c AS (SELECT e.user_id, min(e.ts) c_ts FROM events e JOIN v USING (user_id)
             |      WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY e.user_id),
             |p AS (SELECT e.user_id, min(e.ts) p_ts FROM events e JOIN c USING (user_id)
             |      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id)
             |SELECT stage, stage_ord, n_users FROM (
             |  SELECT 'view' stage, CAST(1 AS BIGINT) stage_ord, CAST(count(*) AS BIGINT) n_users FROM v
             |  UNION ALL SELECT 'click', 2, count(*) FROM c
             |  UNION ALL SELECT 'purchase', 3, count(*) FROM p)
             |ORDER BY stage_ord""".stripMargin),
      doc = "3-stage ordered funnel via chained per-user min-aggregations"),

    // Q36 — weekly cohort retention: cohort = Monday of a user's first
    // event week; a cohort/offset cell counts the distinct users active
    // in cohort_week + offset weeks. Two aggregations + one broadcastable
    // join on user_id (the cohort map is one row per user).
    "q36_retention" -> QueryDef(
      (s, d) => {
        val ev = tbl(s, d, "events")
        val cohort = ev.groupBy("user_id")
          .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_wk"))
        ev.select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("act_wk"))
          .distinct()
          .join(cohort, Seq("user_id"))
          .withColumn("wk_offset", expr("datediff(act_wk, cohort_wk) div 7"))
          .groupBy("cohort_wk", "wk_offset")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_wk", "wk_offset")
      },
      Some("""WITH cohort AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) cohort_wk
             |                FROM events GROUP BY user_id),
             |act AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) act_wk FROM events)
             |SELECT cohort_wk, CAST(divide(divide(epoch_us(CAST(act_wk AS TIMESTAMP)) - epoch_us(CAST(cohort_wk AS TIMESTAMP)),
             |                                     86400000000), 7) AS BIGINT) AS wk_offset,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM act JOIN cohort USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "weekly cohort retention matrix from first-event cohorts"),

    // Q38 — rolling 7-day distinct active users (WAU) per day. Distinct
    // counts admit no sliding-window frame, so the scalable reformulation
    // is contribution-explode: a (user, day) presence row contributes to
    // report days d..d+6 (7× amplification), then one hash aggregation
    // counts distinct users per report day — versus the unexpressible
    // "COUNT(DISTINCT) OVER RANGE 6 DAYS" or an O(days²) self-join. The
    // semi-join drops report days past the data's horizon.
    "q38_rolling_wau" -> QueryDef(
      (s, d) => {
        val pres = tbl(s, d, "events")
          .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("d"))
          .distinct()
        val days = pres.select(col("d").as("day")).distinct()
        pres.select(col("user_id"),
            explode(expr("sequence(d, date_add(d, 6))")).as("day"))
          .join(days, Seq("day"), "left_semi")
          .groupBy("day")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("day")
      },
      Some("""WITH pres AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) d FROM events),
             |days AS (SELECT DISTINCT d AS day FROM pres),
             |contrib AS (SELECT user_id, d + CAST(i AS INTEGER) AS day
             |            FROM (SELECT user_id, d, unnest(generate_series(0, 6)) AS i FROM pres))
             |SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_users
             |FROM contrib c JOIN days ON days.day = c.day
             |GROUP BY c.day ORDER BY c.day""".stripMargin),
      doc = "rolling 7-day distinct users via contribution-explode (no window-distinct)"),

    // Q39 — time-weighted average value (TWAP) per user/day: each event's
    // value holds until the user's next event that day; the last event of
    // the day carries no weight. All integer arithmetic (cents ×
    // micros), one shuffle on (user, day) + one lead() pass.
    "q39_twap" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id", "day").orderBy(col("ts"), col("event_id"))
        tbl(s, d, "events")
          .withColumn("day", date_trunc("day", col("ts")).cast("date"))
          .withColumn("dur_us", lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
          .filter(col("dur_us").isNotNull)
          .groupBy("user_id", "day")
          .agg(count(lit(1)).as("n_holds"),
            sum(col("dur_us")).as("dur_us_total"),
            sum(cents(col("value")) * col("dur_us")).as("wsum"))
          .withColumn("twap_cents", expr("wsum div dur_us_total"))
          .select(col("user_id"), col("day"), col("n_holds"),
            col("dur_us_total"), col("twap_cents"))
          .orderBy("user_id", "day")
      },
      Some("""WITH o AS (SELECT user_id, event_id, ts,
             |    CAST(date_trunc('day', ts) AS DATE) AS day,
             |    CAST(round(value*100) AS BIGINT) AS cents,
             |    lead(epoch_us(ts)) OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
             |      ORDER BY ts, event_id) - epoch_us(ts) AS dur_us
             |  FROM events)
             |SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_holds,
             |  CAST(sum(dur_us) AS BIGINT) AS dur_us_total,
             |  divide(CAST(sum(cents * dur_us) AS BIGINT), CAST(sum(dur_us) AS BIGINT)) AS twap_cents
             |FROM o WHERE dur_us IS NOT NULL
             |GROUP BY user_id, day ORDER BY user_id, day""".stripMargin),
      doc = "per-user/day time-weighted average in exact cents-x-micros integers"),

    // Q40 — peak concurrency per day: each event opens a 10-minute
    // presence interval, clipped at midnight so every day's sweep is
    // self-contained (the standard segmentation that keeps the classic
    // +1/-1 boundary sweep parallel by day instead of one global sort).
    // Tie rule: at equal timestamps ends (-1) apply before starts (+1).
    "q40_concurrency" -> QueryDef(
      (s, d) => {
        val ev = tbl(s, d, "events")
          .select(col("event_id"), col("ts"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .withColumn("day_end_us", unix_micros((col("day") + 1).cast("timestamp")))
          .withColumn("start_us", unix_micros(col("ts")))
          .withColumn("end_us", least(col("start_us") + 600000000L, col("day_end_us")))
        val starts = ev.select(col("day"), col("start_us").as("t_us"), lit(1L).as("delta"), col("event_id"))
        val ends = ev.select(col("day"), col("end_us").as("t_us"), lit(-1L).as("delta"), col("event_id"))
        val w = Window.partitionBy("day").orderBy(col("t_us"), col("delta"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        starts.union(ends)
          .withColumn("running", sum(col("delta")).over(w))
          .groupBy("day").agg(max(col("running")).as("peak"))
          .orderBy("day")
      },
      Some("""WITH ev AS (SELECT event_id, ts, CAST(date_trunc('day', ts) AS DATE) AS day,
             |    epoch_us(ts) AS start_us,
             |    least(epoch_us(ts) + 600000000,
             |          epoch_us(CAST(CAST(date_trunc('day', ts) AS DATE) + 1 AS TIMESTAMP))) AS end_us
             |  FROM events),
             |b AS (SELECT day, start_us AS t_us, CAST(1 AS BIGINT) AS delta, event_id FROM ev
             |      UNION ALL SELECT day, end_us, -1, event_id FROM ev),
             |r AS (SELECT day, CAST(sum(delta) OVER (PARTITION BY day ORDER BY t_us, delta, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
             |      FROM b)
             |SELECT day, max(running) AS peak FROM r GROUP BY day ORDER BY day""".stripMargin),
      doc = "midnight-clipped +1/-1 boundary sweep, parallel by day"),

    // Q41 — the SQ11 stream-stream interval join, batch-bound: the SAME
    // Streaming.intervalJoin function (watermarks are no-ops in batch)
    // under the DuckDB hash gate — purchases pick up every click by the
    // same user within the preceding hour. Proves the streaming
    // transform's relation, not just its batch≡stream equivalence spec.
    "q41_interval_join" -> QueryDef(
      (s, d) => {
        val ev = tbl(s, d, "events")
        graft.streaming.Streaming.intervalJoin(
            ev.filter(col("event_type") === "click"),
            ev.filter(col("event_type") === "purchase"))
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            cents(col("value")).as("purchase_cents"))
          .orderBy("click_id", "purchase_id")
      },
      Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             |  CAST(round(p.value*100) AS BIGINT) AS purchase_cents
             |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
             |JOIN (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase') p
             |  ON c.user_id = p.user_id AND p.ts >= c.ts
             | AND p.ts <= c.ts + INTERVAL 3600 SECONDS
             |ORDER BY click_id, purchase_id""".stripMargin),
      doc = "SQ11's interval join run batch-bound under the oracle gate"),

    // Q46 — regular-grid resample + LOCF gap-fill: per user, the daily
    // closing value (last event of the day, ts/event_id tie-break) carried
    // forward across days with no events — the canonical time-series
    // densification every downstream daily-feature join needs (asset
    // prices, sensor states, account balances). Two window passes and one
    // bounded explode: the grid size is span-days per user (never
    // cross-user), the LOCF is last(ignoreNulls) over an ordered per-user
    // window — one shuffle on user_id total, since day-grid explode,
    // left join, and fill window all share that partitioning. First grid
    // day per user is an observed day by construction, so filled_c is
    // never NULL. generate-series arithmetic kept to the q38 version-proof
    // integer-offset form in the oracle.
    "q46_resample_locf" -> QueryDef(
      (s, d) => {
        val wLast = Window.partitionBy("user_id", "day")
          .orderBy(col("ts").desc, col("event_id").desc)
        // localCheckpoint: daily is consumed twice (span→grid and the
        // fill join) — without it the events scan + dedup window run
        // twice (plan-audited; the text_bigram_lm docPairs precedent).
        val daily = tbl(s, d, "events")
          .withColumn("day", date_trunc("day", col("ts")).cast("date"))
          .withColumn("rn", row_number().over(wLast))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("day"), cents(col("value")).as("close_c"))
          .localCheckpoint()
        val grid = daily.groupBy("user_id")
          .agg(min(col("day")).as("mind"), max(col("day")).as("maxd"))
          .select(col("user_id"), col("mind"),
            explode(expr("sequence(0, datediff(maxd, mind))")).as("i"))
          .select(col("user_id"), expr("date_add(mind, i)").as("day"))
        val wFill = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(daily, Seq("user_id", "day"), "left")
          .withColumn("filled_c", last(col("close_c"), ignoreNulls = true).over(wFill))
          .withColumn("is_observed", col("close_c").isNotNull)
          .select(col("user_id"), col("day"), col("filled_c"), col("is_observed"))
          .orderBy("user_id", "day")
      },
      // Oracle portability notes (the text runs verbatim in BOTH engines,
      // SqlSurfaceSpec): the day span is epoch_us arithmetic, not
      // maxd - mind (DATE−DATE is BIGINT days in DuckDB but an INTERVAL in
      // Spark); LOCF is the gaps-and-islands sum/max pair, not IGNORE
      // NULLS (DuckDB puts IGNORE NULLS inside the call parens, Spark
      // outside — no verbatim-portable spelling exists). Each island grp
      // holds exactly one observed close, so max() recovers it exactly.
      Some("""WITH daily AS (
             |  SELECT user_id, day, close_c FROM (
             |    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             |      CAST(round(value*100) AS BIGINT) AS close_c,
             |      row_number() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
             |        ORDER BY ts DESC, event_id DESC) AS rn
             |    FROM events) WHERE rn = 1),
             |span AS (SELECT user_id, min(day) AS mind, max(day) AS maxd FROM daily GROUP BY user_id),
             |grid AS (SELECT user_id, mind + CAST(i AS INTEGER) AS day
             |         FROM (SELECT user_id, mind,
             |                 unnest(generate_series(0, CAST(divide(
             |                   epoch_us(CAST(maxd AS TIMESTAMP)) - epoch_us(CAST(mind AS TIMESTAMP)),
             |                   86400000000) AS INTEGER))) AS i
             |               FROM span)),
             |w AS (SELECT g.user_id AS user_id, g.day AS day, d.close_c AS close_c,
             |        d.close_c IS NOT NULL AS is_observed,
             |        sum(CASE WHEN d.close_c IS NOT NULL THEN 1 ELSE 0 END)
             |          OVER (PARTITION BY g.user_id ORDER BY g.day
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
             |      FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
             |SELECT user_id, day,
             |  CAST(max(close_c) OVER (PARTITION BY user_id, grp) AS BIGINT) AS filled_c,
             |  is_observed
             |FROM w ORDER BY user_id, day""".stripMargin),
      doc = "daily-grid resample with last-observation-carried-forward; " +
        "single user_id partitioning shared by grid, join, and fill window",
      ),

    // Q65 — linear-interpolation gap fill: q46's grid, but interior gaps
    // get the straight line between the surrounding observations instead
    // of a carried-forward step (the resampling rule for continuous
    // signals — prices, sensor readings — where LOCF biases downstream
    // aggregates). Same single user_id partitioning for dedup window,
    // grid explode, fill join, and the four carry windows. Exactness:
    // interp = (prev·(dn−d) + next·(d−dp)) div (dn−dp) with both values
    // SHIFTed to keep the numerator strictly positive — truncation
    // toward zero (Spark div) and floor agree on non-negatives and the
    // shift commutes through exact integer division, so both engines
    // floor identically even if a future testdata generation ships
    // negative values. Grid ends are observed by construction, so every
    // interior gap has both neighbors and interp_c is never NULL.
    "q65_interp_linear" -> QueryDef(
      (s, d) => {
        val Shift = 1000000000L
        val wLast = Window.partitionBy("user_id", "day")
          .orderBy(col("ts").desc, col("event_id").desc)
        val daily = tbl(s, d, "events")
          .withColumn("day", date_trunc("day", col("ts")).cast("date"))
          .withColumn("rn", row_number().over(wLast))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("day"), cents(col("value")).as("close_c"))
          .localCheckpoint() // consumed twice: span→grid and the fill join
        val grid = daily.groupBy("user_id")
          .agg(min(col("day")).as("mind"), max(col("day")).as("maxd"))
          .select(col("user_id"), col("mind"),
            explode(expr("sequence(0, datediff(maxd, mind))")).as("i"))
          .select(col("user_id"), expr("date_add(mind, i)").as("day"))
        val wPrev = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wNext = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        grid.join(daily, Seq("user_id", "day"), "left")
          .withColumn("pv", last(col("close_c"), ignoreNulls = true).over(wPrev))
          .withColumn("pd", last(when(col("close_c").isNotNull, col("day")),
            ignoreNulls = true).over(wPrev))
          .withColumn("nv", first(col("close_c"), ignoreNulls = true).over(wNext))
          .withColumn("nd", first(when(col("close_c").isNotNull, col("day")),
            ignoreNulls = true).over(wNext))
          .withColumn("interp_c", when(col("close_c").isNotNull, col("close_c"))
            .otherwise(expr(s"((pv + $Shift) * datediff(nd, day) + (nv + $Shift) * datediff(day, pd)) " +
              s"div datediff(nd, pd) - $Shift")))
          .withColumn("is_observed", col("close_c").isNotNull)
          .select(col("user_id"), col("day"), col("interp_c"), col("is_observed"))
          .orderBy("user_id", "day")
      },
      // Same portability rules as q46: epoch_us day arithmetic, the
      // gaps-and-islands pair instead of IGNORE NULLS. prev/next carry
      // uses the island max trick in both directions (each island holds
      // exactly one observed row).
      Some("""WITH daily AS (
             |  SELECT user_id, day, close_c FROM (
             |    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             |      CAST(round(value*100) AS BIGINT) AS close_c,
             |      row_number() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
             |        ORDER BY ts DESC, event_id DESC) AS rn
             |    FROM events) WHERE rn = 1),
             |span AS (SELECT user_id, min(day) AS mind, max(day) AS maxd FROM daily GROUP BY user_id),
             |grid AS (SELECT user_id, mind + CAST(i AS INTEGER) AS day
             |         FROM (SELECT user_id, mind,
             |                 unnest(generate_series(0, CAST(divide(
             |                   epoch_us(CAST(maxd AS TIMESTAMP)) - epoch_us(CAST(mind AS TIMESTAMP)),
             |                   86400000000) AS INTEGER))) AS i
             |               FROM span)),
             |w AS (SELECT g.user_id AS user_id, g.day AS day, d.close_c AS close_c,
             |        sum(CASE WHEN d.close_c IS NOT NULL THEN 1 ELSE 0 END)
             |          OVER (PARTITION BY g.user_id ORDER BY g.day
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pgrp,
             |        sum(CASE WHEN d.close_c IS NOT NULL THEN 1 ELSE 0 END)
             |          OVER (PARTITION BY g.user_id ORDER BY g.day
             |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ngrp
             |      FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day),
             |c AS (SELECT user_id, day, close_c,
             |        max(close_c) OVER (PARTITION BY user_id, pgrp) AS pv,
             |        max(CASE WHEN close_c IS NOT NULL THEN day END)
             |          OVER (PARTITION BY user_id, pgrp) AS pd,
             |        max(close_c) OVER (PARTITION BY user_id, ngrp) AS nv,
             |        max(CASE WHEN close_c IS NOT NULL THEN day END)
             |          OVER (PARTITION BY user_id, ngrp) AS nd
             |      FROM w)
             |SELECT user_id, day,
             |  CAST(CASE WHEN close_c IS NOT NULL THEN close_c
             |       ELSE divide((pv + 1000000000) * CAST(divide(
             |              epoch_us(CAST(nd AS TIMESTAMP)) - epoch_us(CAST(day AS TIMESTAMP)),
             |              86400000000) AS BIGINT)
             |            + (nv + 1000000000) * CAST(divide(
             |              epoch_us(CAST(day AS TIMESTAMP)) - epoch_us(CAST(pd AS TIMESTAMP)),
             |              86400000000) AS BIGINT),
             |            CAST(divide(
             |              epoch_us(CAST(nd AS TIMESTAMP)) - epoch_us(CAST(pd AS TIMESTAMP)),
             |              86400000000) AS BIGINT)) - 1000000000 END AS BIGINT) AS interp_c,
             |  close_c IS NOT NULL AS is_observed
             |FROM c ORDER BY user_id, day""".stripMargin),
      doc = "daily-grid resample with LINEAR interpolation between the " +
        "surrounding observations — exact integer, overflow/sign-proof"),

    // Q51 — SCD Type-2 dimension build (slowly-changing attribute history):
    // collapse each user's event stream into versioned [valid_from,
    // valid_to) intervals of constant event_type, the standard warehouse
    // change-tracking shape (gaps-and-islands: change flag → running sum →
    // segment id → interval stitch with lead). Ordering key (ts, event_id)
    // is unique, so versions are deterministic. Scale shape: ONE shuffle of
    // the fact stream on user_id for the two stacked windows, then the
    // groupBy reduces to segment granularity (~changes, not ~events) before
    // the final interval window — the heavy windows and the cheap ones run
    // on different row volumes by construction.
    "q51_scd2" -> QueryDef(
      (s, d) => {
        val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val seg = tbl(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("chg",
            when(lag(col("event_type"), 1).over(wOrd).isNull ||
              lag(col("event_type"), 1).over(wOrd) =!= col("event_type"), 1L)
              .otherwise(0L))
          .withColumn("version", sum(col("chg")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val wVer = Window.partitionBy("user_id").orderBy("valid_from")
        seg.groupBy(col("user_id"), col("version"), col("event_type"))
          .agg(min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(wVer))
          .withColumn("is_current", col("valid_to").isNull)
          .select(col("user_id"), col("version"), col("event_type"),
            col("valid_from"), col("valid_to"), col("n_events"), col("is_current"))
          .orderBy("user_id", "version")
      },
      Some("""WITH ordered AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |           OR lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) <> event_type
             |         THEN 1 ELSE 0 END AS chg
             |  FROM events),
             |seg AS (
             |  SELECT user_id, ts, event_type,
             |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
             |  FROM ordered),
             |segs AS (
             |  SELECT user_id, version, event_type, min(ts) AS valid_from,
             |    CAST(count(*) AS BIGINT) AS n_events
             |  FROM seg GROUP BY user_id, version, event_type)
             |SELECT user_id, version, event_type, valid_from,
             |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
             |  n_events,
             |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL AS is_current
             |FROM segs ORDER BY user_id, version""".stripMargin),
      doc = "SCD Type-2 interval build via gaps-and-islands; versions keyed " +
        "by a unique (ts, event_id) ordering"),

    // Q52 — MERGE / upsert semantics (CDC apply): a keyed snapshot absorbs
    // a change feed with all four outcomes — MATCHED+low-value → delete,
    // MATCHED → update, NOT MATCHED BY SOURCE → keep, NOT MATCHED BY TARGET
    // → insert. Key is (user_id, event_type); the snapshot deliberately
    // covers only the user_id % 7 <> 0 cohort (a partial snapshot + full
    // change feed — the realistic CDC bootstrap) so the insert path is
    // populated at every SF. Both sides reduce to latest-per-key BEFORE the
    // full-outer join (map-side-combinable row_number prune), so the join
    // carries two key-sized relations, never the raw fact table — the same
    // discipline as q47.
    "q52_merge_upsert" -> QueryDef(
      (s, d) => {
        val cut = to_timestamp(lit("2024-01-25 00:00:00"))
        val ev = tbl(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
            cents(col("value")).as("value_c"))
        val wLatest = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts").desc, col("event_id").desc)
        def latest(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("rn", row_number().over(wLatest))
            .filter(col("rn") === 1).drop("rn")
        val base = latest(ev.filter(col("ts") < cut && pmod(col("user_id"), lit(7)) =!= 0))
          .select(col("user_id").as("b_user"), col("event_type").as("b_type"),
            col("value_c").as("b_value"), col("ts").as("b_ts"))
        val chg = latest(ev.filter(col("ts") >= cut))
          .select(col("user_id").as("c_user"), col("event_type").as("c_type"),
            col("value_c").as("c_value"), col("ts").as("c_ts"))
        base.join(chg,
            col("b_user") === col("c_user") && col("b_type") === col("c_type"),
            "full_outer")
          .withColumn("action",
            when(col("b_user").isNull, "insert")
              .when(col("c_user").isNull, "keep")
              .when(col("c_value") < 1000, "delete")
              .otherwise("update"))
          .filter(col("action") =!= "delete")
          .select(
            coalesce(col("b_user"), col("c_user")).as("user_id"),
            coalesce(col("b_type"), col("c_type")).as("event_type"),
            col("action"),
            (coalesce(col("c_value"), col("b_value")).cast("double") / 100.0).as("value"),
            coalesce(col("c_ts"), col("b_ts")).as("last_ts"))
          .orderBy("user_id", "event_type")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, ts, event_id,
             |    CAST(round(value*100) AS BIGINT) AS value_c FROM events),
             |base AS (SELECT user_id, event_type, value_c, ts FROM
             |  (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
             |     ORDER BY ts DESC, event_id DESC) AS rn
             |   FROM ev WHERE ts < TIMESTAMP '2024-01-25 00:00:00' AND user_id % 7 <> 0)
             |  WHERE rn = 1),
             |chg AS (SELECT user_id, event_type, value_c, ts FROM
             |  (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
             |     ORDER BY ts DESC, event_id DESC) AS rn
             |   FROM ev WHERE ts >= TIMESTAMP '2024-01-25 00:00:00') WHERE rn = 1)
             |SELECT COALESCE(b.user_id, c.user_id) AS user_id,
             |  COALESCE(b.event_type, c.event_type) AS event_type,
             |  CASE WHEN b.user_id IS NULL THEN 'insert'
             |       WHEN c.user_id IS NULL THEN 'keep'
             |       WHEN c.value_c < 1000 THEN 'delete'
             |       ELSE 'update' END AS action,
             |  CAST(COALESCE(c.value_c, b.value_c) AS DOUBLE) / 100.0 AS value,
             |  COALESCE(c.ts, b.ts) AS last_ts
             |FROM base b FULL OUTER JOIN chg c
             |  ON b.user_id = c.user_id AND b.event_type = c.event_type
             |WHERE NOT (b.user_id IS NOT NULL AND c.user_id IS NOT NULL AND c.value_c < 1000)
             |ORDER BY user_id, event_type""".stripMargin),
      doc = "MERGE/upsert CDC apply over a keyed snapshot: insert/update/" +
        "delete/keep, both sides latest-per-key-pruned before the full-outer join"),

    // Q58 — ordered string aggregation (path analysis): each user's first
    // ten event types, chronologically joined into a journey string — the
    // funnel-exploration primitive ("what do users DO before purchasing").
    // Spark's collect_list has no deterministic order, so the ordering is
    // imposed structurally: collect structs keyed by (ts, event_id),
    // array_sort (lexicographic on the unique key prefix), slice, project,
    // join — every step deterministic. Scale shape: one shuffle on
    // user_id; per-user payload is capped by the slice, and a 100 TB
    // variant bounds the collect itself with the q16-style rank filter
    // BEFORE aggregation (spelled here as the rn<=10 FILTER in the oracle).
    "q58_user_journey" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        tbl(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
            row_number().over(w).as("rn"))
          .groupBy("user_id")
          .agg(
            array_join(
              transform(
                array_sort(collect_list(
                  when(col("rn") <= 10,
                    struct(col("ts"), col("event_id"), col("event_type")))
                    .otherwise(lit(null)))),
                x => x.getField("event_type")),
              ">").as("path"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      // In-aggregate ORDER BY is the one portable-SQL casualty here
      // (SqlSurfaceSpec exclusion, the dedup_substring_cut precedent):
      // DuckDB spells ordered aggregation string_agg(x, sep ORDER BY k)
      // and Spark's parser rejects it; Spark's listagg WITHIN GROUP is in
      // turn not DuckDB syntax. The oracle is the DuckDB spelling.
      Some("""SELECT user_id,
             |  string_agg(event_type, '>' ORDER BY ts, event_id)
             |    FILTER (WHERE rn <= 10) AS path,
             |  CAST(count(*) AS BIGINT) AS n_events
             |FROM (SELECT user_id, event_type, ts, event_id,
             |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |      FROM events)
             |GROUP BY user_id ORDER BY user_id""".stripMargin),
      doc = "ordered string aggregation: per-user chronological event path " +
        "(first 10), deterministic via sort-by-unique-key structs"),

    // Q59 — robust statistics: EXACT per-group median and MAD (median
    // absolute deviation) over integer cents, plus a 5-MAD outlier count —
    // the scaling/winsorization pre-pass of a feature pipeline. The
    // median is the LOWER order statistic at rank (n+1) div 2 (a value
    // actually present in the data — no float interpolation to drift
    // between engines), selected by a row_number window; MAD repeats the
    // selection over |x − med|. Two ranked passes is the inherent cost of
    // exactness: each is one per-group sort (fine for bounded group
    // counts; the sketch path for unbounded data is q42's
    // percentile_approx). The outlier count then reuses the dev stream.
    "q59_robust_scale" -> QueryDef(
      (s, d) => {
        // Value-domain rollup form (r13 optimization round): the exact
        // median and MAD depend only on the (type, cents) MULTISET, not
        // on per-row order — the value at rank k of (x, event_id) is
        // whatever grid value the cumulative count reaches k inside, for
        // any tie-breaker. The former spelling sorted the whole corpus
        // TWICE through per-type windows (rank the values, then rank the
        // deviations); now ONE corpus pass builds the bounded
        // (event_type, x) rollup (q98's cent-grid discipline) and the
        // median scan, deviation grid, MAD scan, and outlier count are
        // all grid-sized.
        val r = tbl(s, d, "events")
          .select(col("event_type"), cents(col("value")).as("x"))
          .groupBy("event_type", "x").agg(count(lit(1)).as("cnt"))
          .localCheckpoint() // median scan + deviation grid
        // ONE window stage per median: the same (type)-partitioned sort
        // carries both the cumulative and the whole-partition total, so
        // no separate sizes aggregate or join is needed
        def medianOf(grid: org.apache.spark.sql.DataFrame, v: String,
            out: String): org.apache.spark.sql.DataFrame = {
          val wCum = Window.partitionBy("event_type").orderBy(v)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val wAll = Window.partitionBy("event_type")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
          grid.withColumn("cum", sum(col("cnt")).over(wCum))
            .withColumn("n", sum(col("cnt")).over(wAll))
            .filter(col("cum") >= expr("(n + 1) div 2") &&
              col("cum") - col("cnt") < expr("(n + 1) div 2"))
            .select(col("event_type"), col(v).as(out), col("n"))
        }
        val med = medianOf(r, "x", "med_c").localCheckpoint() // |types| rows; dev + final
        val dev = r.join(broadcast(med.select(col("event_type"), col("med_c"))),
            Seq("event_type"))
          .groupBy(col("event_type"), abs(col("x") - col("med_c")).as("ad"))
          .agg(sum(col("cnt")).as("cnt"))
          .localCheckpoint() // MAD scan + outlier count
        val mad = medianOf(dev, "ad", "mad_c")
          .select(col("event_type"), col("mad_c")).localCheckpoint() // out + final
        val out = dev.join(broadcast(mad), Seq("event_type"))
          .groupBy("event_type")
          .agg(sum(when(col("ad") > lit(5L) * col("mad_c"), col("cnt"))
            .otherwise(0L)).as("n_outliers"))
        med.select(col("event_type"), col("n"), col("med_c"))
          .join(broadcast(mad), Seq("event_type"))
          .join(out, Seq("event_type"))
          .select(col("event_type"), col("n"), col("med_c"), col("mad_c"), col("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type, event_id,
             |    CAST(round(value*100) AS BIGINT) AS x FROM events),
             |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
             |       FROM ev GROUP BY event_type),
             |r1 AS (SELECT event_type, x,
             |         row_number() OVER (PARTITION BY event_type ORDER BY x, event_id) AS rn
             |       FROM ev),
             |med AS (SELECT r1.event_type, r1.x AS med_c
             |        FROM r1 JOIN st ON r1.event_type = st.event_type
             |        WHERE r1.rn = divide(st.n + 1, 2)),
             |dev AS (SELECT ev.event_type, ev.event_id, abs(ev.x - med.med_c) AS ad
             |        FROM ev JOIN med ON ev.event_type = med.event_type),
             |r2 AS (SELECT event_type, ad,
             |         row_number() OVER (PARTITION BY event_type ORDER BY ad, event_id) AS rn
             |       FROM dev),
             |mad AS (SELECT r2.event_type, r2.ad AS mad_c
             |        FROM r2 JOIN st ON r2.event_type = st.event_type
             |        WHERE r2.rn = divide(st.n + 1, 2)),
             |outl AS (SELECT dev.event_type,
             |           CAST(sum(CASE WHEN dev.ad > 5 * mad.mad_c THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |         FROM dev JOIN mad ON dev.event_type = mad.event_type
             |         GROUP BY dev.event_type)
             |SELECT st.event_type AS event_type, st.n AS n, med.med_c AS med_c,
             |  mad.mad_c AS mad_c, outl.n_outliers AS n_outliers
             |FROM st JOIN med ON st.event_type = med.event_type
             |  JOIN mad ON st.event_type = mad.event_type
             |  JOIN outl ON st.event_type = outl.event_type
             |ORDER BY event_type""".stripMargin),
      doc = "exact median + MAD + 5-MAD outlier count per group — the " +
        "no-interpolation order-statistic form, engine-stable by construction"),

    // Q60 — incremental view maintenance: the daily rollup is maintained
    // as base (ts < cut) plus delta (ts >= cut) PARTIAL aggregates whose
    // merge re-aggregates the partials — count→sum, sum→sum. The oracle
    // is the one-shot full rollup: algebraic decomposition must be
    // result-invisible. This is the batch proof of the property every
    // streaming update-mode aggregate (SQ10) and every AQE partial-agg
    // plan relies on; at 100 TB it is how yesterday's materialized rollup
    // absorbs today's increment without a full recompute.
    "q60_ivm_rollup" -> QueryDef(
      (s, d) => {
        val cut = to_timestamp(lit("2024-01-20 00:00:00"))
        val ev = tbl(s, d, "events")
          .select(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"),
            col("ts"), cents(col("value")).as("v"))
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("event_type", "day")
            .agg(count(lit(1)).as("pn"), sum(col("v")).as("psum"))
        partial(ev.filter(col("ts") < cut))
          .unionByName(partial(ev.filter(col("ts") >= cut)))
          .groupBy("event_type", "day")
          .agg(sum(col("pn")).as("n"), sum(col("psum")).as("sum_c"))
          .orderBy("event_type", "day")
      },
      Some("""SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_c
             |FROM events GROUP BY event_type, day
             |ORDER BY event_type, day""".stripMargin),
      doc = "incremental aggregate maintenance: base+delta partial rollups " +
        "merged by re-aggregation ≡ the one-shot rollup (oracle-gated)"),

    // Q62 — snapshot reconciliation diff: derive the CHANGESET between
    // two table snapshots (q52 applies a given changeset; this produces
    // one, and q57's checksum only says replicas differ — this says
    // where). Snapshots are deterministic projections of `orders`:
    //   A ("yesterday's replica") lacks keys ≡ 0 (mod 97);
    //   B ("today")               lacks keys ≡ 0 (mod 101) and bumps the
    //                             price on keys ≡ 0 (mod 89).
    // Each side reduces a row to (key, 58-bit row digest) BEFORE the
    // join, so the full-outer compare carries 16 bytes/row no matter how
    // wide the table is; verdicts (inserted/deleted/changed/unchanged)
    // come from null-sides and digest inequality. The digest is the WIDE
    // mod-2^58 fold ([[graft.Qh.strHashWide]]), NOT the ~20-bit strHash:
    // a changed row whose old/new digests collide is mis-reported
    // 'unchanged', and at mod 1e6 that is ~1e-6 per changed row —
    // near-certain over a 100 TB anti-entropy pass — vs ~3.4e-18 at this
    // width. Output is the per-verdict count plus order-invariant key-sum
    // and digest-XOR checksums (xor, not sum: summing 58-bit digests
    // overflows signed 64-bit) — the complete diff is provable without
    // shipping it. Scale: ONE sort-merge full-outer shuffle on the key
    // (plan-gated: no BNLJ) + a 4-row rollup.
    "q62_snapshot_diff" -> QueryDef(
      (s, d) => {
        val o = tbl(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
            cents(col("o_totalprice")).as("price_c"),
            col("o_orderdate").cast("date").cast("string").as("day"))
        def digest(price: Column): Column = strHashWide(concat_ws("|",
          col("k").cast("string"), col("st"), price.cast("string"), col("day")))
        val a = o.filter(pmod(col("k"), lit(97L)) =!= 0L)
          .select(col("k"), digest(col("price_c")).as("h_a"))
        val b = o.filter(pmod(col("k"), lit(101L)) =!= 0L)
          .select(col("k"), digest(col("price_c") +
            when(pmod(col("k"), lit(89L)) === 0L, 500L).otherwise(0L)).as("h_b"))
        a.join(b, Seq("k"), "full_outer")
          .withColumn("verdict",
            when(col("h_a").isNull, "inserted")
              .when(col("h_b").isNull, "deleted")
              .when(col("h_a") =!= col("h_b"), "changed")
              .otherwise("unchanged"))
          .groupBy("verdict")
          .agg(count(lit(1)).as("n"), sum(col("k")).as("key_sum"),
            expr("bit_xor(coalesce(h_b, h_a))").as("digest_xor"))
          .orderBy("verdict")
      },
      Some(s"""WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st,
              |    CAST(round(o_totalprice*100) AS BIGINT) AS price_c,
              |    CAST(CAST(o_orderdate AS DATE) AS STRING) AS day FROM orders),
              |a AS (SELECT k, ${strHashWideSql(
                "CAST(k AS STRING) || '|' || st || '|' || CAST(price_c AS STRING) || '|' || day")} AS h_a
              |      FROM o WHERE k % 97 <> 0),
              |b AS (SELECT k, ${strHashWideSql(
                "CAST(k AS STRING) || '|' || st || '|' || CAST(price_c + CASE WHEN k % 89 = 0 THEN 500 ELSE 0 END AS STRING) || '|' || day")} AS h_b
              |      FROM o WHERE k % 101 <> 0),
              |j AS (SELECT coalesce(a.k, b.k) AS k, h_a, h_b
              |      FROM a FULL OUTER JOIN b ON a.k = b.k)
              |SELECT CASE WHEN h_a IS NULL THEN 'inserted'
              |            WHEN h_b IS NULL THEN 'deleted'
              |            WHEN h_a <> h_b THEN 'changed'
              |            ELSE 'unchanged' END AS verdict,
              |  CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS key_sum,
              |  CAST(bit_xor(coalesce(h_b, h_a)) AS BIGINT) AS digest_xor
              |FROM j GROUP BY 1 ORDER BY verdict""".stripMargin),
      doc = "snapshot reconciliation: per-key wide row digests full-outer " +
        "compared into a changeset; one SMJ shuffle, digests not rows"),

    // Q70 — new-vs-returning user growth curve: per day, how many events
    // came from users seen for the FIRST time that day vs. returning
    // users, plus the cumulative distinct-user count. The standard
    // product-analytics decomposition (and the corpus-analytics one: new
    // vs. recurring contributors). A windowed COUNT(DISTINCT) is
    // unsupported/quadratic in both engines; the scalable formulation is
    // first-seen-day per user (one groupBy) + per-day rollup + one
    // cumulative window over the tiny day-level table — shuffles scale
    // with users and days, never events × days.
    "q70_user_growth" -> QueryDef(
      (s, d) => {
        val ev = tbl(s, d, "events")
          .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
        val firstSeen = ev.groupBy("user_id").agg(min(col("day")).as("first_day"))
        val daily = ev.join(firstSeen, Seq("user_id"))
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new_events"),
            countDistinct(when(col("day") === col("first_day"), col("user_id")))
              .as("n_new_users"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.withColumn("cum_users", sum(col("n_new_users")).over(w))
          .select(col("day"), col("n_events"), col("n_new_events"),
            col("n_new_users"), col("cum_users"))
          .orderBy("day")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
             |fs AS (SELECT user_id, min(day) AS first_day FROM ev GROUP BY user_id),
             |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS n_events,
             |    CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new_events,
             |    CAST(count(DISTINCT CASE WHEN day = first_day THEN ev.user_id END) AS BIGINT) AS n_new_users
             |  FROM ev JOIN fs ON ev.user_id = fs.user_id GROUP BY day)
             |SELECT day, n_events, n_new_events, n_new_users,
             |  CAST(sum(n_new_users) OVER (ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
             |FROM daily ORDER BY day""".stripMargin),
      doc = "new-vs-returning decomposition + cumulative distinct users " +
        "via first-seen-day — no windowed distinct, shuffles scale with users"),

    // Q71 — heartbeat-gap detection: per user, the largest silent gap
    // between consecutive events and where it happened — the
    // outage/abandonment primitive (and, pipeline-side, the detector
    // for stalled sources in an ingest ledger). One shuffle on user_id
    // feeds the lag window; the per-user arg-max rides the SAME
    // partitioning as a second window (rank by gap), so detection adds
    // no exchange. Gaps in exact epoch seconds; flagged when over 24 h.
    "q71_heartbeat_gaps" -> QueryDef(
      (s, d) => {
        val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val gaps = tbl(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
          .filter(col("prev_ts").isNotNull)
          // micros first, ONE floor-div at the end: floor(a)-floor(b) per
          // endpoint would drift ±1 s against the oracle on sub-second ts
          .withColumn("gap_s",
            expr("(unix_micros(ts) - unix_micros(prev_ts)) div 1000000"))
        val wTop = Window.partitionBy("user_id")
          .orderBy(col("gap_s").desc, col("ts"), col("event_id"))
        gaps.withColumn("rn", row_number().over(wTop))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("gap_s").as("max_gap_s"),
            col("prev_ts").as("gap_start"), col("ts").as("gap_end"),
            (col("gap_s") > 86400L).as("stalled"))
          .orderBy("user_id")
      },
      Some("""WITH g AS (SELECT user_id, ts, event_id,
             |    lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events),
             |gg AS (SELECT user_id, ts, event_id, prev_ts,
             |         divide(epoch_us(ts) - epoch_us(prev_ts), 1000000) AS gap_s
             |       FROM g WHERE prev_ts IS NOT NULL),
             |r AS (SELECT user_id, gap_s, prev_ts, ts,
             |        row_number() OVER (PARTITION BY user_id
             |          ORDER BY gap_s DESC, ts, event_id) AS rn
             |      FROM gg)
             |SELECT user_id, CAST(gap_s AS BIGINT) AS max_gap_s,
             |  prev_ts AS gap_start, ts AS gap_end, gap_s > 86400 AS stalled
             |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin),
      doc = "largest inter-event silence per user with its interval — " +
        "lag + arg-max on one user_id partitioning; exact epoch seconds"),

    // Q72 — burst detection on event volume: a (type, day) bursts when
    // today's count exceeds 2× the mean of the trailing 7 observations —
    // the volume-anomaly alarm an ingest ledger runs (a crawler gone
    // rogue, a source flooding duplicates) and the q71 complement
    // (silence vs. spike). Exact integer test (n·7 > trail7·2 — no
    // float mean), armed only once 7 prior observations exist. The
    // detector runs on the DAY-level rollup (types × days rows), so the
    // window pass costs nothing next to the one map-side-combined
    // rollup of the raw stream; trailing frame is ROWS-based — prior
    // OBSERVATIONS, deterministic under calendar gaps.
    "q72_burst_detect" -> QueryDef(
      (s, d) => {
        val daily = tbl(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-7, -1)
        daily
          .withColumn("trail7", sum(col("n")).over(w))
          .withColumn("n_prior", count(lit(1)).over(w))
          .withColumn("burst",
            when(col("n_prior") === 7L, col("n") * 7L > col("trail7") * 2L)
              .otherwise(false))
          .select(col("event_type"), col("day"), col("n"),
            coalesce(col("trail7"), lit(0L)).as("trail7_n"), col("burst"))
          .orderBy("event_type", "day")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |w AS (SELECT event_type, day, n,
             |        sum(n) OVER (PARTITION BY event_type ORDER BY day
             |          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail7,
             |        count(*) OVER (PARTITION BY event_type ORDER BY day
             |          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_prior
             |      FROM daily)
             |SELECT event_type, day, n, CAST(coalesce(trail7, 0) AS BIGINT) AS trail7_n,
             |  CASE WHEN n_prior = 7 THEN n * 7 > trail7 * 2 ELSE FALSE END AS burst
             |FROM w ORDER BY event_type, day""".stripMargin),
      doc = "volume-burst alarm: today > 2x trailing-7 mean in exact " +
        "integers, armed after 7 observations; runs on the day rollup"),

    // Q74 — NEAREST-direction as-of join with tolerance, the operator
    // family q32 (backward-only) does not cover: each purchase is matched
    // to the same user's temporally CLOSEST click within ±30 min, in
    // EITHER direction (pandas merge_asof direction='nearest'; kdb wj).
    // Matching rules, all deterministic: |Δ| minimized; an exact distance
    // tie prefers the backward candidate (the leakage-safe side); clicks
    // sharing (user, ts) collapse to the max-event_id row before matching;
    // candidates beyond the tolerance yield a NULL match (kept — the
    // cold-start rows a feature pipeline must represent).
    //
    // Scale shape: the union-tag merge formulation run TWICE — one
    // ascending window carries the latest at-or-before click ts, one
    // descending window carries the earliest at-or-after click ts (both
    // partitioned by user_id — fully parallel at 100 TB), then pure
    // column arithmetic picks the nearer in-tolerance side and ONE
    // equi-join on (user_id, chosen_ts) fetches the click payload. The
    // naive formulation is a range join on |Δ| ≤ T — a per-user cross
    // product this spelling exists to avoid. The oracle states the same
    // rules as a correlated top-1 (fine for DuckDB at sf; ORDER BY
    // abs(Δ), is-forward, ts reproduces the tie chain exactly).
    "q74_asof_nearest" -> QueryDef(
      (s, d) => {
        val tolUs = 1800L * 1000000L
        val ev = tbl(s, d, "events")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("event_type"),
            cents(col("value")).as("value_c"))
        // Deterministic collapse of same-instant clicks to the
        // max-event_id row. max + max_by (keyed by the UNIQUE event_id,
        // so max_by's tie behavior can never engage) instead of
        // max(struct): struct-max falls back to SortAggregate — an
        // avoidable per-partition sort of the whole click stream —
        // while these two stay in hash aggregation.
        val clk = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts_us")
          .agg(max(col("event_id")).as("c_event_id"),
            expr("max_by(value_c, event_id)").as("c_cents"))
          // consumed twice (union-tag stream + payload join) — cut the
          // lineage so the click scan+aggregate runs once, not per use
          .localCheckpoint()
        val tagged = clk.select(col("user_id"), col("ts_us"),
            lit(0L).as("tag"), lit(-1L).as("p_id"))
          .unionByName(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts_us"),
              lit(1L).as("tag"), col("event_id").as("p_id")))
        // Ascending pass: clicks (tag 0) sort before a same-instant
        // purchase, so an exactly-simultaneous click is visible backward.
        val wB = Window.partitionBy("user_id")
          .orderBy(col("ts_us"), col("tag"), col("p_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // Descending pass: same-instant clicks again precede the probe.
        val wF = Window.partitionBy("user_id")
          .orderBy(col("ts_us").desc, col("tag"), col("p_id").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cand = tagged
          .withColumn("bwd", max(when(col("tag") === 0L, col("ts_us"))).over(wB))
          .withColumn("fwd", min(when(col("tag") === 0L, col("ts_us"))).over(wF))
          .filter(col("tag") === 1L)
        val dB = col("ts_us") - col("bwd")
        val dF = col("fwd") - col("ts_us")
        val takeB = col("bwd").isNotNull && dB <= tolUs &&
          (col("fwd").isNull || dF > tolUs || dB <= dF)
        val takeF = !takeB && col("fwd").isNotNull && dF <= tolUs
        cand
          .withColumn("near_ts_us", when(takeB, col("bwd")).when(takeF, col("fwd")))
          .withColumn("direction",
            when(takeB, lit("backward")).when(takeF, lit("forward")))
          .join(clk.withColumnRenamed("ts_us", "near_ts_us"),
            Seq("user_id", "near_ts_us"), "left")
          .select(col("p_id").as("event_id"), col("user_id"), col("ts_us"),
            col("near_ts_us"), col("direction"),
            col("c_event_id").as("near_event_id"),
            col("c_cents").as("near_cents"),
            (col("ts_us") - col("near_ts_us")).as("delta_us"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
             |    CAST(round(value*100) AS BIGINT) AS value_c FROM events),
             |c AS (SELECT user_id, ts_us, event_id AS c_event_id, value_c AS c_cents
             |      FROM (SELECT user_id, ts_us, event_id, value_c,
             |              row_number() OVER (PARTITION BY user_id, ts_us
             |                ORDER BY event_id DESC) AS rn
             |            FROM ev WHERE event_type = 'click') WHERE rn = 1),
             |p AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
             |cand AS (SELECT p.event_id, c.ts_us AS c_ts,
             |           row_number() OVER (PARTITION BY p.event_id
             |             ORDER BY abs(c.ts_us - p.ts_us), (c.ts_us > p.ts_us), c.ts_us
             |           ) AS rn
             |         FROM p JOIN c ON c.user_id = p.user_id
             |           AND c.ts_us >= p.ts_us - 1800000000
             |           AND c.ts_us <= p.ts_us + 1800000000),
             |best AS (SELECT event_id, c_ts FROM cand WHERE rn = 1)
             |SELECT p.event_id, p.user_id, p.ts_us, best.c_ts AS near_ts_us,
             |  CASE WHEN best.c_ts IS NULL THEN NULL
             |       WHEN best.c_ts <= p.ts_us THEN 'backward'
             |       ELSE 'forward' END AS direction,
             |  c.c_event_id AS near_event_id, c.c_cents AS near_cents,
             |  p.ts_us - best.c_ts AS delta_us
             |FROM p LEFT JOIN best ON best.event_id = p.event_id
             |LEFT JOIN c ON c.user_id = p.user_id AND c.ts_us = best.c_ts
             |ORDER BY p.event_id""".stripMargin),
      doc = "nearest-direction as-of join with ±30 min tolerance: two " +
        "user-partitioned union-tag passes + one equi-join back; " +
        "backward preferred on exact-distance ties, NULL cold starts"),

    // Q78 — exponentially weighted moving average per user, EXACT: the
    // one classic time-series smoother the rolling family (q34 sum, q39
    // TWAP, q46 LOCF, q65 interp) did not cover. Float EWMA is a
    // recursive IEEE accumulation no two engines reproduce bit-for-bit,
    // so this is the DYADIC form: α = 1/2 truncated to the last 16
    // observations — weights 2^15..2^0 over [newest..oldest], emitted as
    // the exact integer NUMERATOR plus the term count (denominator
    // 2^n − 1 is the consumer's one division, the q59/text_dsir
    // no-final-division discipline). The fold is Horner's rule over the
    // REVERSED frame array (h → 2h + x puts weight 2^(n-1) on the
    // newest sample); max |num| ≤ 2^16·max_cents — overflow-safe by
    // construction.
    //
    // Scale shape: one user-partitioned window (ROWS 15 PRECEDING)
    // collecting a ≤16-element array per row + a codegen'd fold — no
    // self-join, no explode; at 100 TB this partitions by user like
    // every operator in this file.
    "q78_ewma" -> QueryDef(
      (s, d) => {
        val ev = tbl(s, d, "events")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), cents(col("value")).as("cents"))
        val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(-15, 0)
        ev
          .withColumn("frame", collect_list(col("cents")).over(w))
          .select(col("event_id"), col("user_id"), col("cents"),
            size(col("frame")).cast("long").as("n_terms"),
            aggregate(reverse(col("frame")), lit(0L),
              (h, x) => h * 2 + x).as("ewma_num"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
             |f AS (SELECT event_id, user_id, cents,
             |        array_agg(cents) OVER (PARTITION BY user_id
             |          ORDER BY ts_us, event_id
             |          ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS frame
             |      FROM ev)
             |SELECT event_id, user_id, cents,
             |  CAST(len(frame) AS BIGINT) AS n_terms,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_reverse(frame)),
             |    (h, x) -> h * 2 + x) AS ewma_num
             |FROM f ORDER BY event_id""".stripMargin),
      doc = "exact dyadic EWMA (α=1/2, 16-term frame): Horner fold over " +
        "the reversed window array; integer numerator + term count, " +
        "consumer divides by 2^n − 1"),

    // Q79 — first-order Markov transition matrix of the per-user event
    // stream: P(next event type | current event type), the clickstream
    // model behind next-action prediction, funnel leak detection and
    // session simulation (q58's journeys aggregate whole paths; this is
    // the EDGE-level view). Each user's stream is ordered by
    // (ts, event_id), consecutive pairs are counted per (cur, next),
    // and the conditional probability ships as exact integer ppb —
    // cnt·1e9 div row-total (the text_bigram_lm discipline applied to
    // events; a terminal event contributes no pair). Scale shape: one
    // user-partitioned lag window + one (cur,next) groupBy (map-side
    // combinable) + a broadcast-size row-total join — the output is
    // |event types|² rows, bounded by construction.
    "q79_markov_transitions" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        val pairs = tbl(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"), col("event_type").as("cur"))
          .withColumn("nxt", lead(col("cur"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
          // consumed twice (cells + row totals) — one window pass, not two
          .localCheckpoint()
        val totals = pairs.groupBy("cur").agg(sum(col("n")).as("row_n"))
        pairs.join(broadcast(totals), Seq("cur"))
          .withColumn("cond_ppb", expr("n * 1000000000 div row_n"))
          .select(col("cur"), col("nxt"), col("n"), col("row_n"), col("cond_ppb"))
          .orderBy("cur", "nxt")
      },
      Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |    event_type AS cur FROM events),
             |p AS (SELECT cur, lead(cur) OVER (PARTITION BY user_id
             |        ORDER BY ts_us, event_id) AS nxt
             |      FROM ev),
             |c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
             |      FROM p WHERE nxt IS NOT NULL GROUP BY cur, nxt),
             |t AS (SELECT cur, CAST(sum(n) AS BIGINT) AS row_n FROM c GROUP BY cur)
             |SELECT c.cur, c.nxt, c.n, t.row_n,
             |  CAST(divide(c.n * 1000000000, t.row_n) AS BIGINT) AS cond_ppb
             |FROM c JOIN t ON c.cur = t.cur
             |ORDER BY c.cur, c.nxt""".stripMargin),
      doc = "first-order Markov transition matrix over per-user event " +
        "streams: lag-window pairs, exact integer cond_ppb; output " +
        "bounded at |event types|²"),

    // Q80 — chi-square independence test of event_type × ISO weekday
    // (the "is behavior day-of-week dependent?" hypothesis test every
    // analytics engine ships): per contingency cell, observed count,
    // expected count under independence (row·col div N, in exact
    // milli-units), and the χ² term (obs−exp)²/exp in micro-units —
    // integer-exact in both engines, zero-expectation cells guarded to
    // 0 (Spark ANSI division would throw). Consumers sum chi_micro and
    // compare against the χ² critical value for (r−1)(c−1) dof.
    // Scale shape: ONE scan builds the |types|×7-row cell table; row,
    // column and grand totals are exact re-aggregations OF THE CELLS
    // (marginals are sums of cells — never a second pass over events);
    // the grid is rebuilt join-free by exploding dows 1..7 under each
    // row total and equi-joining the col totals, so absent cells still
    // get their expected mass. Overflow bound: (obs·1000 − exp_milli)² needs
    // N ≲ 3·10⁶ at this scaling; a 100 TB run drops the ×1000 (the
    // q55 R0-rescaling note — same recurrence, rescaled constant).
    "q80_chisq_independence" -> QueryDef(
      (s, d) => {
        val e = tbl(s, d, "events")
          .select(col("event_type"),
            (pmod(dayofweek(col("ts")) + 5, lit(7)) + 1).as("dow"))
        // ONE scan: row/col/grand totals re-aggregate the |types|×7-row
        // cell table (exact — marginals are sums of cells), instead of
        // four passes over the event stream.
        val obs = e.groupBy("event_type", "dow").agg(count(lit(1)).as("obs"))
          .localCheckpoint()
        val rows = obs.groupBy("event_type").agg(sum(col("obs")).as("row_n"))
        val cols = obs.groupBy("dow").agg(sum(col("obs")).as("col_n"))
        val n = obs.agg(sum(col("obs")).as("n"))
        rows
          .withColumn("dow", explode(sequence(lit(1), lit(7))))
          .join(broadcast(cols), Seq("dow"))
          .join(obs, Seq("event_type", "dow"), "left")
          .crossJoin(broadcast(n))
          .withColumn("obs", coalesce(col("obs"), lit(0L)))
          .withColumn("exp_milli", expr("row_n * col_n * 1000 div n"))
          .withColumn("chi_micro", expr(
            "CASE WHEN exp_milli = 0 THEN 0 ELSE " +
              "(obs * 1000 - exp_milli) * (obs * 1000 - exp_milli) div exp_milli END"))
          .select(col("event_type"), col("dow").cast("long").as("dow"),
            col("obs"), col("exp_milli"), col("chi_micro"))
          .orderBy("event_type", "dow")
      },
      Some("""WITH e AS (SELECT event_type, isodow(ts) AS dow FROM events),
             |o AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS obs
             |      FROM e GROUP BY 1, 2),
             |r AS (SELECT event_type, CAST(count(*) AS BIGINT) AS row_n
             |      FROM e GROUP BY 1),
             |c AS (SELECT dow, CAST(count(*) AS BIGINT) AS col_n FROM e GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
             |grid AS (SELECT r.event_type, r.row_n, c.dow, c.col_n
             |         FROM r CROSS JOIN c),
             |f AS (SELECT g.event_type, g.dow,
             |        coalesce(o.obs, 0) AS obs,
             |        divide(g.row_n * g.col_n * 1000, n.n) AS exp_milli
             |      FROM grid g CROSS JOIN n
             |      LEFT JOIN o ON o.event_type = g.event_type AND o.dow = g.dow)
             |SELECT event_type, CAST(dow AS BIGINT) AS dow,
             |  CAST(obs AS BIGINT) AS obs, CAST(exp_milli AS BIGINT) AS exp_milli,
             |  CAST(CASE WHEN exp_milli = 0 THEN 0 ELSE
             |    divide((obs * 1000 - exp_milli) * (obs * 1000 - exp_milli), exp_milli)
             |  END AS BIGINT) AS chi_micro
             |FROM f ORDER BY event_type, dow""".stripMargin),
      doc = "χ² independence test of event_type × ISO weekday: exact " +
        "integer contingency cells, expected milli-counts, per-cell " +
        "χ² micro-terms; zero-expectation cells guarded"),

    // Q81 — conversion attribution with a 7-day lookback window: for
    // each purchase, the same user's FIRST-touch click (earliest in the
    // window — the "what started the journey" credit), LAST-touch click
    // (latest at-or-before — the "what closed it" credit), and the
    // touch count, the three marketing-attribution primitives. Differs
    // from q32/q74: those pick ONE nearest/latest event; attribution
    // reads the whole bounded window per conversion.
    //
    // Scale shape: ONE union-tag pass with a RANGE frame on event-time
    // micros — clicks and purchases merge-sort per user, and the
    // trailing [−7 d, 0] range window computes min/max/count of click
    // ts in the SAME frame (peers at equal ts all included, so tie
    // order cannot affect the result — the q34 discipline). No
    // correlated probe, no per-purchase re-scan; both engines state the
    // identical RANGE window. Same-instant clicks collapse column-wise
    // to max event_id first (the q74 rule), and the payload equi-joins
    // back on (user, ts) once per touch endpoint.
    "q81_attribution" -> QueryDef(
      (s, d) => {
        val lookUs = 7L * 86400L * 1000000L
        val ev = tbl(s, d, "events")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("event_type"))
        val clk = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts_us")
          .agg(max(col("event_id")).as("c_event_id"))
          // consumed three times (union-tag stream + two touch joins)
          .localCheckpoint()
        val tagged = clk.select(col("user_id"), col("ts_us"),
            lit(0L).as("tag"), lit(-1L).as("p_id"))
          .unionByName(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts_us"),
              lit(1L).as("tag"), col("event_id").as("p_id")))
        val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
          .rangeBetween(-lookUs, 0L)
        val attributed = tagged
          .withColumn("first_ts", min(when(col("tag") === 0L, col("ts_us"))).over(w))
          .withColumn("last_ts", max(when(col("tag") === 0L, col("ts_us"))).over(w))
          .withColumn("touches",
            sum(when(col("tag") === 0L, 1L).otherwise(0L)).over(w))
          .filter(col("tag") === 1L)
        attributed
          .join(clk.select(col("user_id"), col("ts_us").as("first_ts"),
            col("c_event_id").as("first_click_id")), Seq("user_id", "first_ts"), "left")
          .join(clk.select(col("user_id"), col("ts_us").as("last_ts"),
            col("c_event_id").as("last_click_id")), Seq("user_id", "last_ts"), "left")
          .select(col("p_id").as("event_id"), col("user_id"), col("ts_us"),
            col("first_ts"), col("first_click_id"),
            col("last_ts"), col("last_click_id"), col("touches"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
             |           FROM events),
             |c AS (SELECT user_id, ts_us, CAST(max(event_id) AS BIGINT) AS c_event_id
             |      FROM ev WHERE event_type = 'click' GROUP BY 1, 2),
             |t AS (SELECT user_id, ts_us, CAST(0 AS BIGINT) AS tag,
             |        CAST(-1 AS BIGINT) AS p_id FROM c
             |      UNION ALL
             |      SELECT user_id, ts_us, CAST(1 AS BIGINT) AS tag, event_id
             |      FROM ev WHERE event_type = 'purchase'),
             |a AS (SELECT user_id, ts_us, tag, p_id,
             |        min(CASE WHEN tag = 0 THEN ts_us END) OVER (
             |          PARTITION BY user_id ORDER BY ts_us
             |          RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS first_ts,
             |        max(CASE WHEN tag = 0 THEN ts_us END) OVER (
             |          PARTITION BY user_id ORDER BY ts_us
             |          RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS last_ts,
             |        CAST(sum(CASE WHEN tag = 0 THEN 1 ELSE 0 END) OVER (
             |          PARTITION BY user_id ORDER BY ts_us
             |          RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS touches
             |      FROM t)
             |SELECT a.p_id AS event_id, a.user_id, a.ts_us,
             |  a.first_ts, cf.c_event_id AS first_click_id,
             |  a.last_ts, cl.c_event_id AS last_click_id, a.touches
             |FROM a
             |LEFT JOIN c cf ON cf.user_id = a.user_id AND cf.ts_us = a.first_ts
             |LEFT JOIN c cl ON cl.user_id = a.user_id AND cl.ts_us = a.last_ts
             |WHERE a.tag = 1 ORDER BY a.p_id""".stripMargin),
      doc = "7-day-lookback conversion attribution: first-touch, " +
        "last-touch and touch count per purchase via ONE user-partitioned " +
        "RANGE window over the union-tag stream; payload equi-joins back"),

    // Q82 — CUSUM change-point detection on per-type daily volumes: the
    // sequential drift detector (Page 1954) behind data-quality alarms
    // ("did this source's volume level-shift?") — the LEVEL-SHIFT
    // complement of q72's single-day burst ratio, which cannot see a
    // persistent +30% drift that never doubles any one day. The
    // textbook recursion S_i = max(0, S_{i-1} + (x_i − k)) is not a
    // window function, but it has the exact closed form
    // S_i = P_i − min_{0≤j≤i} P_j over the prefix sums P of (x − k) —
    // a running sum plus a running min, both plain windows partitioned
    // by event_type (day-level input: calendar-bounded, the q17/q70
    // class). Reference level k = the type's global daily mean in
    // exact integer micros (one bounded rollup + broadcast join);
    // alarm when S exceeds h = 3k (all integer µ-day units).
    "q82_cusum_changepoint" -> QueryDef(
      (s, d) => {
        val daily = tbl(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint() // consumed by the mean and the scan
        val ref = daily.groupBy("event_type")
          .agg(expr("sum(n) * 1000000 div count(1)").as("k_micro"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.join(broadcast(ref), Seq("event_type"))
          .withColumn("p_micro",
            sum(col("n") * 1000000L - col("k_micro")).over(w))
          .withColumn("cusum_micro",
            col("p_micro") - least(lit(0L), min(col("p_micro")).over(w)))
          .withColumn("alarm", col("cusum_micro") > col("k_micro") * 3L)
          .select(col("event_type"), col("day"), col("n"), col("k_micro"),
            col("cusum_micro"), col("alarm"))
          .orderBy("event_type", "day")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |ref AS (SELECT event_type,
             |    CAST(divide(sum(n) * 1000000, count(*)) AS BIGINT) AS k_micro
             |  FROM daily GROUP BY 1),
             |p AS (SELECT d.event_type, d.day, d.n, r.k_micro,
             |        sum(d.n * 1000000 - r.k_micro) OVER (
             |          PARTITION BY d.event_type ORDER BY d.day
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_micro
             |      FROM daily d JOIN ref r ON r.event_type = d.event_type),
             |c AS (SELECT event_type, day, n, k_micro, p_micro,
             |        CAST(p_micro - least(0, min(p_micro) OVER (
             |          PARTITION BY event_type ORDER BY day
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |          AS BIGINT) AS cusum_micro
             |      FROM p)
             |SELECT event_type, day, n, k_micro, cusum_micro,
             |  cusum_micro > k_micro * 3 AS alarm
             |FROM c ORDER BY event_type, day""".stripMargin),
      doc = "CUSUM level-shift detector per event type: closed-form " +
        "S = P − running-min(P) over exact integer µ-day prefix sums; " +
        "alarm at 3× the type's mean daily volume"),

    // Q83 — Benford first-digit audit of the money column: the classic
    // fabricated-data detector (Benford 1938; the audit-analytics
    // staple) — naturally-occurring amounts put ~30.1% of leading
    // digits at 1, and a synthetic or tampered feed drifts toward
    // uniform. Expected shares are the fixed constants
    // round(log10(1+1/d)·1e6) — LITERALS interpolated identically into
    // both engines, so no float log evaluates anywhere at query time;
    // observed shares are exact integer ppm. Scale shape: one scan,
    // one 9-row groupBy with map-side partials, one broadcast 1-row
    // total. Consumers sum |dev_ppm| (or χ²-style terms via q80's
    // recipe) against an audit threshold.
    "q83_benford_audit" -> QueryDef(
      (s, d) => {
        val benford = "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 " +
          "WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181 " +
          "WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153 " +
          "ELSE 45757 END"
        val cts = tbl(s, d, "events")
          .select(cents(col("value")).as("c"))
          .filter(col("c") > 0L)
          .select(substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
        val byDigit = cts.groupBy("digit").agg(count(lit(1)).as("n"))
          .localCheckpoint() // consumed by the total and the shares
        val total = byDigit.agg(sum(col("n")).as("total"))
        byDigit.crossJoin(broadcast(total))
          .withColumn("share_ppm", expr("n * 1000000 div total"))
          .withColumn("benford_ppm", expr(benford))
          .withColumn("dev_ppm", abs(col("share_ppm") - col("benford_ppm")))
          .select(col("digit"), col("n"), col("share_ppm"),
            col("benford_ppm").cast("long").as("benford_ppm"), col("dev_ppm"))
          .orderBy("digit")
      },
      Some("""WITH c AS (SELECT CAST(round(value*100) AS BIGINT) AS c FROM events),
             |dg AS (SELECT CAST(substring(CAST(c AS STRING), 1, 1) AS BIGINT) AS digit
             |       FROM c WHERE c > 0),
             |b AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM dg GROUP BY digit),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM b)
             |SELECT digit, n,
             |  CAST(divide(n * 1000000, total) AS BIGINT) AS share_ppm,
             |  CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
             |    WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
             |    WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
             |    ELSE 45757 END AS BIGINT) AS benford_ppm,
             |  CAST(abs(divide(n * 1000000, total) - CASE digit
             |    WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
             |    WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
             |    WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757 END)
             |    AS BIGINT) AS dev_ppm
             |FROM b CROSS JOIN t ORDER BY digit""".stripMargin),
      doc = "Benford first-digit audit of value cents: exact integer " +
        "observed vs literal expected ppm shares; one scan, 9-row " +
        "output, broadcast total"),

    // Q84 — day-of-week seasonal anomaly detection: a traffic drop every
    // Sunday is normal, the same count on a Tuesday is an incident. The
    // baseline is the per-(event_type, ISO weekday) mean daily volume in
    // exact integer micro-units; each day's deviation is reported as
    // integer ppm of its own weekday baseline, with a 2×/½× alarm band
    // (the classic seasonal-naive detector; CUSUM q82 catches level
    // shifts, this catches single-day spikes/dips the running mean
    // absorbs). Scale shape: one scan → day-level rollup (bounded rows:
    // types × days), a ≤7·|types|-row baseline broadcast back — no
    // global window, no self-join. The integer divisions are identical
    // truncating ops in both engines (all operands non-negative).
    "q84_dow_anomaly" -> QueryDef(
      (s, d) => {
        val daily = tbl(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("n"))
          .withColumn("dow", expr("pmod(dayofweek(day) + 5, 7) + 1").cast("long"))
          .localCheckpoint() // day-level rollup; baseline + join both read it
        val base = daily.groupBy("event_type", "dow")
          .agg(expr("sum(n) * 1000000 div count(1)").as("dow_mean_micro"))
        daily.join(broadcast(base), Seq("event_type", "dow"))
          .withColumn("abs_dev_ppm",
            expr("abs(n * 1000000 - dow_mean_micro) * 1000000 div dow_mean_micro"))
          .withColumn("direction",
            when(col("n") * 1000000L > col("dow_mean_micro"), "high")
              .when(col("n") * 1000000L < col("dow_mean_micro"), "low")
              .otherwise("flat"))
          .withColumn("alarm",
            col("n") * 1000000L > col("dow_mean_micro") * 2L ||
              col("n") * 2000000L < col("dow_mean_micro"))
          .select(col("event_type"), col("day"), col("dow"), col("n"),
            col("dow_mean_micro"), col("abs_dev_ppm"), col("direction"), col("alarm"))
          .orderBy("event_type", "day")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |dd AS (SELECT event_type, day, n, CAST(isodow(day) AS BIGINT) AS dow FROM daily),
             |base AS (SELECT event_type, dow,
             |    CAST(divide(sum(n) * 1000000, count(*)) AS BIGINT) AS dow_mean_micro
             |  FROM dd GROUP BY 1, 2)
             |SELECT d.event_type, d.day, d.dow, d.n, b.dow_mean_micro,
             |  CAST(divide(abs(d.n * 1000000 - b.dow_mean_micro) * 1000000,
             |    b.dow_mean_micro) AS BIGINT) AS abs_dev_ppm,
             |  CASE WHEN d.n * 1000000 > b.dow_mean_micro THEN 'high'
             |       WHEN d.n * 1000000 < b.dow_mean_micro THEN 'low'
             |       ELSE 'flat' END AS direction,
             |  (d.n * 1000000 > b.dow_mean_micro * 2
             |   OR d.n * 2000000 < b.dow_mean_micro) AS alarm
             |FROM dd d JOIN base b ON b.event_type = d.event_type AND b.dow = d.dow
             |ORDER BY d.event_type, d.day""".stripMargin),
      doc = "day-of-week seasonal-naive anomaly detector: per-type ISO-" +
        "weekday mean baseline in exact integer micro, deviation in ppm, " +
        "2x/0.5x alarm band"),

    // Q85 — cohort lifetime value (LTV): customers cohorted by first-
    // order month; per (cohort, age-in-months) revenue in exact integer
    // cents, cumulated over age, divided by cohort size — the standard
    // subscription-analytics LTV curve (a revenue-weighted sibling of
    // q36's retention counts). Age is computed as a pure integer month
    // index difference (year*12+month), portable across engines with no
    // interval arithmetic. Scale shape: one shuffle on o_custkey for the
    // cohort min, one month-level rollup (bounded: months × months), a
    // cumulative window PARTITIONED by cohort month (bounded
    // cardinality), and a broadcast cohort-size join.
    "q85_cohort_ltv" -> QueryDef(
      (s, d) => {
        val ord = tbl(s, d, "orders").localCheckpoint() // cohort + revenue scans
        val cohort = ord.groupBy(col("o_custkey"))
          .agg(date_trunc("month", min(col("o_orderdate"))).cast("date").as("cohort_mo"))
          .localCheckpoint() // consumed by sizes and the revenue join
        val sizes = cohort.groupBy("cohort_mo")
          .agg(count(lit(1)).as("n_users"))
        val rev = ord
          .select(col("o_custkey"),
            date_trunc("month", col("o_orderdate")).cast("date").as("mo"),
            cents(col("o_totalprice")).as("c"))
          .join(cohort, Seq("o_custkey"))
          .withColumn("age_mo",
            (year(col("mo")) * 12 + month(col("mo"))
              - year(col("cohort_mo")) * 12 - month(col("cohort_mo"))).cast("long"))
          .groupBy("cohort_mo", "age_mo")
          .agg(sum(col("c")).as("rev_cents"))
        val w = Window.partitionBy("cohort_mo").orderBy("age_mo")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        rev.withColumn("cum_cents", sum(col("rev_cents")).over(w))
          .join(broadcast(sizes), Seq("cohort_mo"))
          .withColumn("ltv_cents_per_user", expr("cum_cents div n_users"))
          .select(col("cohort_mo"), col("age_mo"), col("n_users"),
            col("rev_cents"), col("cum_cents"), col("ltv_cents_per_user"))
          .orderBy("cohort_mo", "age_mo")
      },
      Some("""WITH cohort AS (SELECT o_custkey,
             |    CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS cohort_mo
             |  FROM orders GROUP BY 1),
             |sizes AS (SELECT cohort_mo, CAST(count(*) AS BIGINT) AS n_users
             |  FROM cohort GROUP BY 1),
             |rev AS (SELECT c.cohort_mo,
             |    CAST((year(mo) * 12 + month(mo))
             |      - (year(c.cohort_mo) * 12 + month(c.cohort_mo)) AS BIGINT) AS age_mo,
             |    CAST(sum(cts) AS BIGINT) AS rev_cents
             |  FROM (SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
             |          CAST(round(o_totalprice * 100) AS BIGINT) AS cts FROM orders) o
             |  JOIN cohort c ON c.o_custkey = o.o_custkey
             |  GROUP BY 1, 2),
             |cum AS (SELECT cohort_mo, age_mo, rev_cents,
             |    CAST(sum(rev_cents) OVER (PARTITION BY cohort_mo ORDER BY age_mo
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
             |  FROM rev)
             |SELECT cohort_mo, age_mo, n_users, rev_cents, cum_cents,
             |  CAST(divide(cum_cents, n_users) AS BIGINT) AS ltv_cents_per_user
             |FROM cum JOIN sizes USING (cohort_mo)
             |ORDER BY cohort_mo, age_mo""".stripMargin),
      doc = "monthly-cohort cumulative LTV curve in exact integer cents " +
        "per user; integer month-index age arithmetic, cohort-partitioned " +
        "cumulative window"),

    // Q86 — Gini concentration of user activity per event type: the
    // standard inequality coefficient over per-user event counts,
    // computed EXACTLY from the closed form over ascending-sorted counts
    //   G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx)
    // reported in integer ppm. Ties on x are rank-order-invariant (a
    // block of equal x permuted among consecutive ranks leaves Σ i·x_i
    // unchanged), so the row_number tiebreak is cosmetic and the result
    // deterministic. Scale shape: one shuffle to (type, user) counts,
    // a window PARTITIONED by event_type (5 types here; bounded, q59
    // precedent), one hash agg per type. Exactness bound: Σ i·x_i stays
    // in signed 64-bit while n·n·avg(x) < 9.2e18 — ~3e8 users per type
    // at x≈100; past that, switch consumers to a binned Lorenz curve.
    "q86_gini_activity" -> QueryDef(
      (s, d) => {
        val ux = tbl(s, d, "events")
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("x"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("x").asc, col("user_id").asc)
        ux.withColumn("i", row_number().over(w).cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_users"), sum(col("x")).as("total_events"),
            sum(col("i") * col("x")).as("rank_mass"))
          .withColumn("gini_ppm",
            expr("(2 * rank_mass - (n_users + 1) * total_events) * 1000000" +
              " div (n_users * total_events)"))
          .select(col("event_type"), col("n_users"), col("total_events"),
            col("rank_mass"), col("gini_ppm"))
          .orderBy("event_type")
      },
      Some("""WITH ux AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT event_type, x,
             |    CAST(row_number() OVER (PARTITION BY event_type
             |      ORDER BY x, user_id) AS BIGINT) AS i
             |  FROM ux),
             |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
             |    CAST(sum(x) AS BIGINT) AS total_events,
             |    CAST(sum(i * x) AS BIGINT) AS rank_mass
             |  FROM r GROUP BY 1)
             |SELECT event_type, n_users, total_events, rank_mass,
             |  CAST(divide((2 * rank_mass - (n_users + 1) * total_events) * 1000000,
             |    n_users * total_events) AS BIGINT) AS gini_ppm
             |FROM a ORDER BY event_type""".stripMargin),
      doc = "exact Gini coefficient of per-user activity per event type, " +
        "integer ppm via the closed form over ascending ranks"),

    // Q89 — funnel latency: the time-to-convert distribution from first
    // signup to first subsequent purchase (q35 counts WHO converts; this
    // measures HOW LONG conversion takes — the other half of every
    // funnel dashboard). Delays are exact integer seconds (µs diff with
    // truncating div); the order statistics use the percentile ↔
    // quantile_cont pairing q31 already proves bit-stable (both engines
    // interpolate the same rank convention over identical integers);
    // the mean is an exact integer-milli division. Scale shape: two
    // filtered scans → per-user min aggregates → one equi-join on
    // user_id → a single 1-row aggregate. No window, no self-join.
    "q89_funnel_latency" -> QueryDef(
      (s, d) => {
        val ev = tbl(s, d, "events")
        val su = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("signup_ts"))
        val delays = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"))
          .join(su, Seq("user_id"))
          .filter(col("ts") >= col("signup_ts"))
          .groupBy("user_id")
          .agg(min(col("ts")).as("first_purchase_ts"),
            first(col("signup_ts")).as("signup_ts"))
          .select(expr("(unix_micros(first_purchase_ts) - unix_micros(signup_ts))" +
            " div 1000000").as("delay_s"))
        // r14: percentile() ObjectHashAggregate → [[Qh.gridPercentiles]]
        // (keyless: one global battery over the bounded delay-second grid).
        gridPercentiles(delays, Seq.empty, col("delay_s"),
            Seq("p50_s" -> 0.5, "p90_s" -> 0.9))
          // keyless aggregate over an empty conversion set: __n is NULL
          // where the oracle's count(*) reads 0 (the rest stay NULL)
          .select(coalesce(col("__n"), lit(0L)).as("n_converted"), col("__min").as("min_s"),
            col("p50_s"), col("p90_s"), col("__max").as("max_s"),
            expr("__sum * 1000 div __n").as("mean_milli_s"))
      },
      Some("""WITH su AS (SELECT user_id, min(ts) AS signup_ts
             |  FROM events WHERE event_type = 'signup' GROUP BY 1),
             |conv AS (SELECT e.user_id,
             |    CAST(divide(epoch_us(min(e.ts)) - epoch_us(min(su.signup_ts)),
             |      1000000) AS BIGINT) AS delay_s
             |  FROM events e JOIN su ON su.user_id = e.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
             |  GROUP BY e.user_id)
             |SELECT CAST(count(*) AS BIGINT) AS n_converted,
             |  CAST(min(delay_s) AS BIGINT) AS min_s,
             |  quantile_cont(delay_s, 0.5) AS p50_s,
             |  quantile_cont(delay_s, 0.9) AS p90_s,
             |  CAST(max(delay_s) AS BIGINT) AS max_s,
             |  CAST(divide(sum(delay_s) * 1000, count(*)) AS BIGINT) AS mean_milli_s
             |FROM conv""".stripMargin),
      doc = "signup→first-purchase latency distribution: exact integer-" +
        "second delays, q31-proven percentile pairing, integer-milli mean"),

    // Q90 — incremental JOIN maintenance: q60 proves base+delta
    // re-aggregation for rollups; this proves the JOIN half of view
    // maintenance — Δ(A ⋈ B) for deltas on BOTH sides via the standard
    // four-term algebra (B∪ΔA) ⋈ (C∪ΔC) = B⋈C ∪ B⋈ΔC ∪ ΔA⋈C ∪ ΔA⋈ΔC.
    // Sides are split by deterministic key predicates (orders delta:
    // keys ≡ 0 mod 10; customer delta: keys ≡ 0 mod 7), the four joins
    // are unioned, and the result is rolled up per market segment — the
    // oracle computes the ONE-SHOT join of the full tables, so an exact
    // match certifies the algebra end-to-end (a row duplicated or
    // dropped by any term breaks count or cents). Scale shape: the
    // base⋈base term shuffles once on the key; the three delta terms
    // have a small side each (AQE broadcasts them at real delta rates —
    // deltas here are 1/10 and 1/7 of the table only because the
    // testdata has no time axis on customer); the rollup is bounded at
    // |segments|.
    "q90_ivm_join" -> QueryDef(
      (s, d) => {
        val o = tbl(s, d, "orders")
          .select(col("o_custkey"), cents(col("o_totalprice")).as("v"),
            (pmod(col("o_orderkey"), lit(10L)) === 0L).as("is_delta"))
        val c = tbl(s, d, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"),
            (pmod(col("c_custkey"), lit(7L)) === 0L).as("c_is_delta"))
        val oB = o.filter(!col("is_delta")).drop("is_delta")
        val oD = o.filter(col("is_delta")).drop("is_delta")
        val cB = c.filter(!col("c_is_delta")).drop("c_is_delta")
        val cD = c.filter(col("c_is_delta")).drop("c_is_delta")
        oB.join(cB, Seq("o_custkey"))
          .unionByName(oB.join(cD, Seq("o_custkey")))
          .unionByName(oD.join(cB, Seq("o_custkey")))
          .unionByName(oD.join(cD, Seq("o_custkey")))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_c"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_c
             |FROM orders JOIN customer ON c_custkey = o_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      doc = "incremental join maintenance: four-term two-sided delta-join " +
        "union rolled up per segment ≡ the one-shot join (oracle-gated)"),

    // Q91 — Mann-Kendall monotone-trend test per event type over the
    // daily volume series: S = Σ_{i<j} sign(n_j − n_i) — the standard
    // nonparametric "is this metric drifting" test (Mann 1945; Kendall
    // 1975), the formal complement of q82's CUSUM (which locates level
    // SHIFTS; this scores sustained monotone DRIFT). Everything stays in
    // exact integers: S, the pair counts, and the z>2 significance
    // test in its squared form 18·S² > 4·n(n−1)(2n+5) (⇔ |z| > 2 with
    // Var(S) = n(n−1)(2n+5)/18, tie correction omitted — documented,
    // both engines identical). Scale shape: the pair join runs on the
    // DAY-LEVEL rollup — calendar-bounded (~10⁴ day-pairs per type per
    // year), so the O(days²) term is a constant-size problem at ANY
    // corpus scale; one scan feeds it.
    "q91_mann_kendall" -> QueryDef(
      (s, d) => {
        val daily = tbl(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint() // both sides of the bounded pair join
        val a = daily.select(col("event_type"), col("day"), col("n"))
        val b = daily.select(col("event_type"), col("day").as("day2"), col("n").as("n2"))
        a.join(b, Seq("event_type")).filter(col("day") < col("day2"))
          .groupBy("event_type")
          .agg(sum(signum(col("n2") - col("n")).cast("long")).as("s_stat"),
            sum(when(col("n2") > col("n"), 1L).otherwise(0L)).as("n_pos"),
            sum(when(col("n2") < col("n"), 1L).otherwise(0L)).as("n_neg"),
            sum(when(col("n2") === col("n"), 1L).otherwise(0L)).as("n_tie"))
          .join(daily.groupBy("event_type").agg(count(lit(1)).as("n_days")),
            Seq("event_type"))
          .withColumn("significant",
            expr("18 * s_stat * s_stat > 4 * n_days * (n_days - 1) * (2 * n_days + 5)"))
          .withColumn("trend",
            when(col("significant") && col("s_stat") > 0L, "increasing")
              .when(col("significant") && col("s_stat") < 0L, "decreasing")
              .otherwise("no_trend"))
          .select(col("event_type"), col("n_days"), col("s_stat"),
            col("n_pos"), col("n_neg"), col("n_tie"), col("significant"), col("trend"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |pr AS (SELECT a.event_type,
             |    CAST(sum(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
             |    CAST(sum(CASE WHEN b.n > a.n THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             |    CAST(sum(CASE WHEN b.n < a.n THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
             |    CAST(sum(CASE WHEN b.n = a.n THEN 1 ELSE 0 END) AS BIGINT) AS n_tie
             |  FROM daily a JOIN daily b
             |    ON b.event_type = a.event_type AND a.day < b.day
             |  GROUP BY 1),
             |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
             |  FROM daily GROUP BY 1),
             |j AS (SELECT pr.event_type, nd.n_days, pr.s_stat, pr.n_pos, pr.n_neg, pr.n_tie,
             |    18 * pr.s_stat * pr.s_stat > 4 * nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) AS significant
             |  FROM pr JOIN nd ON nd.event_type = pr.event_type)
             |SELECT event_type, n_days, s_stat, n_pos, n_neg, n_tie, significant,
             |  CASE WHEN significant AND s_stat > 0 THEN 'increasing'
             |       WHEN significant AND s_stat < 0 THEN 'decreasing'
             |       ELSE 'no_trend' END AS trend
             |FROM j ORDER BY event_type""".stripMargin),
      doc = "Mann-Kendall monotone-trend test per event type: exact " +
        "integer S over calendar-bounded day pairs, squared-form z>2 " +
        "significance, no floats anywhere"),

    // Q92 — activity punch card: the (ISO weekday × hour-of-day) heat
    // map of event volume and value mass — the canonical 168-cell
    // dashboard matrix (GitHub punch card / ops heat map), and the 2-D
    // histogram companion to q53 (1-D value) / q68 (equi-depth). Exact
    // integers throughout: counts, cents, and ppm share of total via a
    // broadcast 1-row grand total. Scale shape: one scan → a ≤168-row
    // hash agg with map-side partials — the output is FIXED-size at any
    // corpus scale.
    "q92_punchcard" -> QueryDef(
      (s, d) => {
        val cells = tbl(s, d, "events")
          .groupBy(expr("pmod(dayofweek(ts) + 5, 7) + 1").cast("long").as("dow"),
            hour(col("ts")).cast("long").as("hr"))
          .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("sum_c"))
          .localCheckpoint() // ≤168 rows; total must not re-scan events
        val tot = cells.agg(sum(col("n_events")).as("n_all"))
        cells.crossJoin(broadcast(tot))
          .withColumn("share_ppm", expr("n_events * 1000000 div n_all"))
          .select(col("dow"), col("hr"), col("n_events"), col("sum_c"),
            col("share_ppm"))
          .orderBy("dow", "hr")
      },
      Some("""WITH cells AS (SELECT CAST(isodow(ts) AS BIGINT) AS dow,
             |    CAST(hour(ts) AS BIGINT) AS hr,
             |    CAST(count(*) AS BIGINT) AS n_events,
             |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_c
             |  FROM events GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS n_all FROM cells)
             |SELECT dow, hr, n_events, sum_c,
             |  CAST(divide(n_events * 1000000, n_all) AS BIGINT) AS share_ppm
             |FROM cells CROSS JOIN tot ORDER BY dow, hr""".stripMargin),
      doc = "weekday x hour activity punch card: fixed 168-cell exact " +
        "integer heat map with ppm shares — one scan, map-side partials"),

    // Q93 — Theil–Sen robust trend slope per event type: the median of
    // all pairwise slopes (n_j − n_i)/(d_j − d_i) over the daily volume
    // series — q91 tests trend DIRECTION; this estimates its MAGNITUDE
    // with a 29% breakdown point (a month of outage days cannot drag it
    // the way OLS would). Per-pair slopes are integer milli with
    // sign-safe truncating division (negative slopes route through
    // |·| so DuckDB's floor and Spark's truncate agree); the median is
    // the q31-proven percentile ↔ quantile_cont pairing. Scale shape:
    // like q91, the O(days²) pair join runs on the calendar-bounded
    // day rollup — constant-size at any corpus scale.
    "q93_theilsen_slope" -> QueryDef(
      (s, d) => {
        val daily = tbl(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint() // both sides of the bounded pair join
        val b = daily.select(col("event_type"), col("day").as("day2"),
          col("n").as("n2"))
        val slopes = daily.join(b, Seq("event_type")).filter(col("day") < col("day2"))
          .withColumn("slope_milli",
            expr("case when n2 >= n then (n2 - n) * 1000 div datediff(day2, day)" +
              " else -((n - n2) * 1000 div datediff(day2, day)) end"))
        // r14: percentile() ObjectHashAggregate → [[Qh.gridPercentiles]]
        // counted (type, slope) rollup — identical median double.
        gridPercentiles(slopes, Seq("event_type"), col("slope_milli"),
            Seq("median_slope_milli" -> 0.5))
          .select(col("event_type"), col("__n").as("n_pairs"),
            col("median_slope_milli"),
            col("__min").as("min_slope_milli"),
            col("__max").as("max_slope_milli"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |pr AS (SELECT a.event_type,
             |    CAST(CASE WHEN b.n >= a.n
             |      THEN divide((b.n - a.n) * 1000,
             |        divide(epoch_us(CAST(b.day AS TIMESTAMP)) - epoch_us(CAST(a.day AS TIMESTAMP)), 86400000000))
             |      ELSE -divide((a.n - b.n) * 1000,
             |        divide(epoch_us(CAST(b.day AS TIMESTAMP)) - epoch_us(CAST(a.day AS TIMESTAMP)), 86400000000))
             |      END AS BIGINT) AS slope_milli
             |  FROM daily a JOIN daily b
             |    ON b.event_type = a.event_type AND a.day < b.day)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             |  quantile_cont(slope_milli, 0.5) AS median_slope_milli,
             |  CAST(min(slope_milli) AS BIGINT) AS min_slope_milli,
             |  CAST(max(slope_milli) AS BIGINT) AS max_slope_milli
             |FROM pr GROUP BY 1 ORDER BY event_type""".stripMargin),
      doc = "Theil-Sen robust trend slope per event type: median of " +
        "pairwise integer-milli slopes over calendar-bounded day pairs, " +
        "sign-safe division, 29% breakdown point"),

    // Q94 — audience overlap matrix: pairwise Jaccard of the DISTINCT
    // user sets of each event type — the cross-sell / cannibalization
    // read ("do purchasers also click?"), and the entity-level sibling
    // of q28a's document Jaccard. Exact integers end-to-end:
    // |A∩B| from a self-join on the deduped (type, user) presence
    // relation, |A∪B| = |A|+|B|−|A∩B|, Jaccard in ppm. Scale shape:
    // one distinct pass (shuffle on user), a user-keyed self-join that
    // emits ≤ |types|² pairs per user, a bounded |types|²-row agg, and
    // a broadcast per-type-size join. Never a cross join of sets.
    "q94_audience_overlap" -> QueryDef(
      (s, d) => {
        val pres = tbl(s, d, "events")
          .select(col("event_type"), col("user_id")).distinct()
          .localCheckpoint() // sizes + both self-join sides
        Qh.pairOverlap(pres, "user_id", "event_type", "type")
          .withColumn("jaccard_ppm",
            expr("n_both * 1000000 div (n_a + n_b - n_both)"))
          .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
            col("n_both"), col("jaccard_ppm"))
          .orderBy("type_a", "type_b")
      },
      Some(s"""WITH pres AS (SELECT DISTINCT event_type, user_id FROM events),
             |${Qh.pairOverlapSql("user_id", "event_type", "type")}
             |SELECT type_a, type_b, n_a, n_b, n_both,
             |  CAST(divide(n_both * 1000000, n_a + n_b - n_both) AS BIGINT) AS jaccard_ppm
             |FROM grid ORDER BY type_a, type_b""".stripMargin),
      doc = "pairwise audience Jaccard between event types: exact " +
        "integer intersection via user-keyed self-join, union by " +
        "inclusion-exclusion, ppm output"),

    // Q95 — lag-7 autocorrelation of daily volume per event type: the
    // MEASUREMENT behind q84's day-of-week design — a high r₇ is what
    // licenses a weekday-seasonal baseline at all (and its decay across
    // corpus snapshots signals the seasonality assumption rotting). The
    // Pearson r over (n_t, n_{t+7}) pairs runs on exact integer
    // co-moments (q49's discipline applied to the lagged series); the
    // ONLY float ops are the final sqrt/divide on identical 64-bit
    // integers — the same IEEE ops in both engines, so round(r, 6) is
    // bit-stable. Scale shape: day-level rollup (calendar-bounded) →
    // type-partitioned lag window (bounded types, q59 precedent) → one
    // hash agg per type.
    "q95_autocorr7" -> QueryDef(
      (s, d) => {
        val daily = tbl(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("x"))
        val w = Window.partitionBy("event_type").orderBy("day")
        daily
          .withColumn("y", lead(col("x"), 7).over(w))
          .filter(col("y").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .withColumn("r7",
            round((col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double"))
                * sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double"))), 6))
          .select(col("event_type"), col("n_pairs"), col("sx"), col("sy"),
            col("sxy"), col("sxx"), col("syy"), col("r7"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS x
             |  FROM events GROUP BY 1, 2),
             |lagged AS (SELECT event_type, x,
             |    lead(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS y
             |  FROM daily),
             |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(y * y) AS BIGINT) AS syy
             |  FROM lagged WHERE y IS NOT NULL GROUP BY 1)
             |SELECT event_type, n_pairs, sx, sy, sxy, sxx, syy,
             |  round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
             |    / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
             |       * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 6) AS r7
             |FROM m ORDER BY event_type""".stripMargin),
      doc = "lag-7 Pearson autocorrelation of daily volume per type: " +
        "exact integer co-moments, float only in the final sqrt/divide " +
        "on identical integers — the measurement licensing q84's " +
        "weekday baselines"),

    // Q97 — distribution drift between two corpus snapshots: the
    // per-bucket value-histogram comparison whose half-L1 sum is the
    // total-variation distance — the data-drift gate every training
    // pipeline runs between refreshes (KL needs logs and explodes on
    // empty buckets; TV is exact in integers and bounded in [0,1]).
    // Snapshots are deterministic stand-ins (even vs odd event_id —
    // two interleaved halves SHOULD read ≈0 drift, which is itself the
    // test); buckets are fixed-width cents//1000 capped to [0,19], so
    // the grid is closed and identical in both engines. Emits one row
    // per bucket with both exact ppm shares and |Δ| ppm; consumers sum
    // abs_diff_ppm div 2 against an alarm threshold. A missing-on-one-
    // side bucket surfaces with an explicit 0 share (full-outer grid),
    // never silently dropped. Scale shape: one scan → two ≤20-row hash
    // aggs → full-outer on the bucket id → broadcast 1-row totals.
    "q97_drift_tv" -> QueryDef(
      (s, d) => {
        val ev = tbl(s, d, "events")
          .select(col("event_id"), cents(col("value")).as("c"))
          .withColumn("bucket", least(lit(19L), greatest(lit(0L),
            expr("c div 1000"))))
        def hist(side: org.apache.spark.sql.DataFrame) =
          side.groupBy("bucket").agg(count(lit(1)).as("n"))
        val a = hist(ev.filter(pmod(col("event_id"), lit(2L)) === 0L))
          .select(col("bucket"), col("n").as("n_a"))
        val b = hist(ev.filter(pmod(col("event_id"), lit(2L)) === 1L))
          .select(col("bucket"), col("n").as("n_b"))
        val grid = a.join(b, Seq("bucket"), "full_outer")
          .select(col("bucket"), coalesce(col("n_a"), lit(0L)).as("n_a"),
            coalesce(col("n_b"), lit(0L)).as("n_b"))
          .localCheckpoint() // ≤20 rows; totals must not re-scan events
        val tot = grid.agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
        grid.crossJoin(broadcast(tot))
          .withColumn("share_a_ppm", expr("n_a * 1000000 div t_a"))
          .withColumn("share_b_ppm", expr("n_b * 1000000 div t_b"))
          .withColumn("abs_diff_ppm", abs(col("share_a_ppm") - col("share_b_ppm")))
          .select(col("bucket"), col("n_a"), col("n_b"),
            col("share_a_ppm"), col("share_b_ppm"), col("abs_diff_ppm"))
          .orderBy("bucket")
      },
      Some("""WITH ev AS (SELECT event_id,
             |    least(19, greatest(0, divide(CAST(round(value*100) AS BIGINT), 1000))) AS bucket
             |  FROM events),
             |a AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_a
             |  FROM ev WHERE event_id % 2 = 0 GROUP BY 1),
             |b AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_b
             |  FROM ev WHERE event_id % 2 = 1 GROUP BY 1),
             |grid AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
             |    CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
             |    CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
             |  FROM a FULL OUTER JOIN b ON b.bucket = a.bucket),
             |tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a,
             |    CAST(sum(n_b) AS BIGINT) AS t_b FROM grid)
             |SELECT bucket, n_a, n_b,
             |  CAST(divide(n_a * 1000000, t_a) AS BIGINT) AS share_a_ppm,
             |  CAST(divide(n_b * 1000000, t_b) AS BIGINT) AS share_b_ppm,
             |  CAST(abs(divide(n_a * 1000000, t_a) - divide(n_b * 1000000, t_b)) AS BIGINT) AS abs_diff_ppm
             |FROM grid CROSS JOIN tot ORDER BY bucket""".stripMargin),
      doc = "snapshot distribution drift: fixed 20-bucket value " +
        "histograms on a full-outer grid, exact ppm shares, |delta| ppm " +
        "per bucket — half the sum is the total-variation distance"),

    // Q98 — pairwise two-sample Kolmogorov–Smirnov: for every pair of
    // event types, the EXACT sup-distance between their value CDFs —
    // q97 compares two snapshots on a coarse 20-bucket grid; this
    // compares segments at full cent resolution and localizes WHERE the
    // distributions diverge (d_at_cents). Everything exact integers:
    // the per-(type, cent) rollup is value-domain-bounded (the money
    // column is 2-decimal in a fixed range, so ≤ |types|·~49k rollup
    // rows at ANY corpus scale — one full scan, then constant-size),
    // CDF steps are ppm shares (q97's truncating-div spelling), and the
    // argmax cent rides a collision-free composite max over the SHIFTED
    // cent c' = c − min(c) with factor span = max(c) − min(c) + 1
    // (diff·span − c', 0 ≤ c' < span by construction — valid for any
    // cent domain incl. negatives, not just [0, 1e5)), so ties resolve
    // to the smallest cent deterministically — no max_by tie lottery.
    // Overflow bound: diff ≤ 1e6 ppm, so diff·span fits int64 for any
    // value span under ~$92 B — far past the money domain. The span
    // read is a 1-row bounded aggregate (control-plane read, q110
    // precedent). The cumsum windows are PARTITIONED by the
    // type pair (bounded partitions, q59 precedent), never global. The
    // only floats are the significance threshold's sqrt/divide on
    // identical 64-bit integers (q95 discipline); 1.358 is the
    // classical α=0.05 two-sample KS coefficient.
    "q98_ks_pairwise" -> QueryDef(
      (s, d) => {
        val r = tbl(s, d, "events")
          .groupBy(col("event_type"), cents(col("value")).as("c"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint() // sizes + both pair-grid sides; bounded
        val cb = Qh.boundedHead(r.agg(min(col("c")), max(col("c"))),
          "q98 cents bounds (global aggregate)")
        val (minC, span) =
          if (cb.isNullAt(0)) (0L, 1L) // empty events: result is empty
          else (cb.getLong(0), cb.getLong(1) - cb.getLong(0) + 1L)
        val (pairs, g) = Qh.alignedPairs(r, "event_type", "c", "type")
        val w = Window.partitionBy("type_a", "type_b").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        g.withColumn("ca", sum(col("n_a")).over(w))
          .withColumn("cb", sum(col("n_b")).over(w))
          .join(broadcast(pairs), Seq("type_a", "type_b"))
          .withColumn("diff",
            abs(expr("ca * 1000000 div t_a - cb * 1000000 div t_b")))
          .groupBy(col("type_a"), col("type_b"), col("t_a"), col("t_b"))
          .agg(max(col("diff")).as("d_ppm"),
            max(expr(s"diff * ${span}L - (c - ${minC}L)")).as("__comp"))
          .withColumn("d_at_cents",
            expr(s"d_ppm * ${span}L - __comp + ${minC}L"))
          .withColumn("significant",
            expr("CAST(d_ppm AS DOUBLE) > 1358000.0 * " +
              "sqrt(CAST(t_a + t_b AS DOUBLE) / (CAST(t_a AS DOUBLE) * CAST(t_b AS DOUBLE)))"))
          .select(col("type_a"), col("type_b"), col("t_a"), col("t_b"),
            col("d_ppm"), col("d_at_cents"), col("significant"))
          .orderBy("type_a", "type_b")
      },
      Some(s"""WITH r AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS c,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |${Qh.alignedPairsSql("event_type", "c", "type")},
             |cum AS (SELECT type_a, type_b, c, n_a, n_b,
             |    sum(n_a) OVER (PARTITION BY type_a, type_b ORDER BY c
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             |    sum(n_b) OVER (PARTITION BY type_a, type_b ORDER BY c
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
             |  FROM g),
             |bnd AS (SELECT CAST(min(c) AS BIGINT) AS minc,
             |    CAST(max(c) - min(c) + 1 AS BIGINT) AS span FROM r),
             |dd AS (SELECT cum.type_a, cum.type_b, p.t_a, p.t_b,
             |    cum.c - (SELECT minc FROM bnd) AS cs,
             |    abs(divide(ca * 1000000, t_a) - divide(cb * 1000000, t_b)) AS diff
             |  FROM cum JOIN pairs p ON p.type_a = cum.type_a AND p.type_b = cum.type_b)
             |SELECT type_a, type_b, t_a, t_b,
             |  CAST(max(diff) AS BIGINT) AS d_ppm,
             |  CAST(max(diff) * (SELECT span FROM bnd)
             |    - max(diff * (SELECT span FROM bnd) - cs)
             |    + (SELECT minc FROM bnd) AS BIGINT) AS d_at_cents,
             |  CAST(max(diff) AS DOUBLE) > 1358000.0 *
             |    sqrt(CAST(t_a + t_b AS DOUBLE) / (CAST(t_a AS DOUBLE) * CAST(t_b AS DOUBLE))) AS significant
             |FROM dd GROUP BY 1, 2, 3, 4 ORDER BY type_a, type_b""".stripMargin),
      doc = "pairwise two-sample Kolmogorov-Smirnov over event-type " +
        "value distributions: exact ppm CDF sup-distance on the " +
        "value-domain-bounded cent grid, deterministic argmax cent, " +
        "alpha=0.05 significance — windows partitioned per pair"),

    // Q99 — pairwise Mann–Whitney U: the rank-sum companion to q98 —
    // KS asks "do the distributions differ ANYWHERE"; U asks the
    // dashboard question "does one segment's spend stochastically
    // DOMINATE the other", with an effect size (rank-biserial) that is
    // comparable across pairs. Midrank tie handling is exact in
    // integers by carrying DOUBLED rank sums (2R = Σ n_a·(2·before +
    // n_v + 1) — always integral even when midranks are .5s), so
    // u2_a = 2U_a and the tie-correction term Σ(n_v³ − n_v) are exact;
    // rank-biserial is sign-safe truncating-div ppm (q93 discipline).
    // The normal-approximation z is the only float — computed from
    // identical 64-bit integers by the identical IEEE formula in both
    // engines (q95 discipline). Same value-domain-bounded rollup and
    // pair-partitioned cumsum shape as q98: one scan, constant-size
    // downstream at any corpus scale.
    "q99_mannwhitney" -> QueryDef(
      (s, d) => {
        val r = tbl(s, d, "events")
          .groupBy(col("event_type"), cents(col("value")).as("c"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint() // sizes + both pair-grid sides; bounded
        val (pairs, g) = Qh.alignedPairs(r, "event_type", "c", "type")
        val w = Window.partitionBy("type_a", "type_b").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        g.withColumn("ca", sum(col("n_a")).over(w))
          .withColumn("cb", sum(col("n_b")).over(w))
          .withColumn("before", col("ca") + col("cb") - col("n_a") - col("n_b"))
          .groupBy("type_a", "type_b")
          .agg(sum(expr("n_a * (2 * before + n_a + n_b + 1)")).as("r2_a"),
            sum(expr("(n_a + n_b) * (n_a + n_b) * (n_a + n_b) - (n_a + n_b)"))
              .as("sum_ties"))
          .join(broadcast(pairs), Seq("type_a", "type_b"))
          .withColumn("u2_a", expr("r2_a - t_a * (t_a + 1)"))
          .withColumn("rb_ppm",
            expr("CASE WHEN u2_a - t_a * t_b >= 0 " +
              "THEN (u2_a - t_a * t_b) * 1000000 div (t_a * t_b) " +
              "ELSE -((t_a * t_b - u2_a) * 1000000 div (t_a * t_b)) END"))
          .withColumn("z",
            expr("CAST(u2_a - t_a * t_b AS DOUBLE) / (2.0 * " +
              "sqrt((CAST(t_a AS DOUBLE) * CAST(t_b AS DOUBLE) / 12.0) * " +
              "(CAST(t_a + t_b + 1 AS DOUBLE) - CAST(sum_ties AS DOUBLE) / " +
              "(CAST(t_a + t_b AS DOUBLE) * CAST(t_a + t_b - 1 AS DOUBLE)))))"))
          .withColumn("significant", expr("abs(z) > 1.96"))
          .withColumn("z4", round(col("z"), 4))
          .select(col("type_a"), col("type_b"), col("t_a"), col("t_b"),
            col("u2_a"), col("sum_ties"), col("rb_ppm"), col("z4"),
            col("significant"))
          .orderBy("type_a", "type_b")
      },
      Some(s"""WITH r AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS c,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |${Qh.alignedPairsSql("event_type", "c", "type")},
             |cum AS (SELECT type_a, type_b, c, n_a, n_b,
             |    sum(n_a) OVER (PARTITION BY type_a, type_b ORDER BY c
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             |    sum(n_b) OVER (PARTITION BY type_a, type_b ORDER BY c
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
             |  FROM g),
             |ag AS (SELECT type_a, type_b,
             |    CAST(sum(n_a * (2 * (ca + cb - n_a - n_b) + n_a + n_b + 1)) AS BIGINT) AS r2_a,
             |    CAST(sum((n_a + n_b) * (n_a + n_b) * (n_a + n_b) - (n_a + n_b)) AS BIGINT) AS sum_ties
             |  FROM cum GROUP BY 1, 2),
             |j AS (SELECT ag.type_a, ag.type_b, p.t_a, p.t_b,
             |    r2_a - p.t_a * (p.t_a + 1) AS u2_a, sum_ties
             |  FROM ag JOIN pairs p ON p.type_a = ag.type_a AND p.type_b = ag.type_b),
             |z AS (SELECT type_a, type_b, t_a, t_b, u2_a, sum_ties,
             |    CAST(u2_a - t_a * t_b AS DOUBLE) / (2.0 *
             |      sqrt((CAST(t_a AS DOUBLE) * CAST(t_b AS DOUBLE) / 12.0) *
             |      (CAST(t_a + t_b + 1 AS DOUBLE) - CAST(sum_ties AS DOUBLE) /
             |      (CAST(t_a + t_b AS DOUBLE) * CAST(t_a + t_b - 1 AS DOUBLE))))) AS z
             |  FROM j)
             |SELECT type_a, type_b, t_a, t_b,
             |  CAST(u2_a AS BIGINT) AS u2_a, sum_ties,
             |  CAST(CASE WHEN u2_a - t_a * t_b >= 0
             |    THEN divide((u2_a - t_a * t_b) * 1000000, t_a * t_b)
             |    ELSE -divide((t_a * t_b - u2_a) * 1000000, t_a * t_b) END AS BIGINT) AS rb_ppm,
             |  round(z, 4) AS z4, abs(z) > 1.96 AS significant
             |FROM z ORDER BY type_a, type_b""".stripMargin),
      doc = "pairwise Mann-Whitney U over event-type values: exact " +
        "doubled rank sums with midrank ties, tie-corrected normal z " +
        "(float only on identical integers), sign-safe rank-biserial " +
        "effect size in ppm"),

    // Q103 — dwell-time distribution: per event type, the percentiles
    // of the gap to the SAME user's next event of that type — the
    // engagement-cadence read ("purchases recur weekly, clicks every
    // few minutes") behind retention models and the q71 heartbeat
    // thresholds (q71 DETECTS gaps beyond a fixed bound; this measures
    // the distribution that justifies the bound). Gaps are exact
    // integer seconds from unix_micros (div 1e6 — whole-second
    // testdata, and the q31-proven percentile↔quantile_cont pairing on
    // integers is engine-exact); the lead window partitions by
    // (user, type) — parallel at any scale; the final agg is one row
    // per type. Mean in exact milli-seconds, sign-free by construction
    // (ts ordering makes every gap non-negative).
    "q103_dwell_time" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts"), col("event_id"))
        val gaps = tbl(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
            unix_micros(col("ts")).as("es_us"))
          .withColumn("next_us", lead(col("es_us"), 1).over(w))
          .filter(col("next_us").isNotNull)
          // diff in micros FIRST, then one truncating div — identical
          // to the oracle even on sub-second timestamps
          .withColumn("gap_s", expr("(next_us - es_us) div 1000000"))
        // r14: percentile() ObjectHashAggregate → [[Qh.gridPercentiles]]
        // counted (type, gap_s) rollup — identical doubles, all-codegen,
        // grid bounded by the gap-second domain.
        gridPercentiles(gaps, Seq("event_type"), col("gap_s"),
            Seq("p50_s" -> 0.5, "p90_s" -> 0.9, "p99_s" -> 0.99))
          .select(col("event_type"), col("__n").as("n_gaps"),
            col("p50_s"), col("p90_s"), col("p99_s"),
            col("__max").as("max_s"),
            expr("__sum * 1000 div __n").as("mean_ms"))
          .orderBy("event_type")
      },
      Some("""WITH g AS (SELECT event_type,
             |    lead(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
             |      ORDER BY ts, event_id) - epoch_us(ts) AS gap_us
             |  FROM events),
             |s AS (SELECT event_type, divide(gap_us, 1000000) AS gap_s
             |  FROM g WHERE gap_us IS NOT NULL)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
             |  quantile_cont(gap_s, 0.5) AS p50_s,
             |  quantile_cont(gap_s, 0.9) AS p90_s,
             |  quantile_cont(gap_s, 0.99) AS p99_s,
             |  CAST(max(gap_s) AS BIGINT) AS max_s,
             |  CAST(divide(sum(gap_s) * 1000, count(*)) AS BIGINT) AS mean_ms
             |FROM s GROUP BY 1 ORDER BY event_type""".stripMargin),
      doc = "per-type dwell-time distribution: exact integer-second " +
        "gaps to the same user's next event, q31-proven percentile " +
        "pairing, (user, type)-partitioned windows"),

    // Q105 — per-user presence UNION length: each event opens the same
    // 10-minute presence interval as q40, and the union (overlaps
    // counted once) is the honest "time actually engaged" denominator
    // behind utilization metrics — sum(interval) double-counts bursts,
    // the union does not. Classic sweep-line, DISTRIBUTED: the running
    // max of earlier interval ends is a (user)-partitioned window
    // (parallel at any corpus scale — never a global sort), and each
    // row contributes greatest(0, end − greatest(start, prev_max_end))
    // micros — exact integers throughout, order-independent after the
    // per-user sort because the contribution telescope is a partition
    // of the covered set. Utilization is the covered share of the
    // user's first-to-last span in ppm (truncating div on non-negative
    // integers, engine-identical).
    "q105_interval_union" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("start_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        tbl(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("start_us"))
          .withColumn("end_us", col("start_us") + 600000000L)
          .withColumn("prev_max_end", max(col("end_us")).over(w))
          .withColumn("covered_us", greatest(lit(0L), col("end_us") -
            greatest(col("start_us"),
              coalesce(col("prev_max_end"), col("start_us")))))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            expr("sum(covered_us) div 1000000").as("covered_s"),
            expr("(max(end_us) - min(start_us)) div 1000000").as("span_s"),
            expr("sum(covered_us) * 1000000 div (max(end_us) - min(start_us))")
              .as("util_ppm"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS start_us,
             |    epoch_us(ts) + 600000000 AS end_us FROM events),
             |sw AS (SELECT user_id, start_us, end_us,
             |    max(end_us) OVER (PARTITION BY user_id ORDER BY start_us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
             |  FROM ev),
             |c AS (SELECT user_id, start_us, end_us,
             |    greatest(0, end_us - greatest(start_us,
             |      coalesce(prev_max_end, start_us))) AS covered_us
             |  FROM sw)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(divide(sum(covered_us), 1000000) AS BIGINT) AS covered_s,
             |  CAST(divide(max(end_us) - min(start_us), 1000000) AS BIGINT) AS span_s,
             |  CAST(divide(sum(covered_us) * 1000000,
             |       max(end_us) - min(start_us)) AS BIGINT) AS util_ppm
             |FROM c GROUP BY 1 ORDER BY user_id""".stripMargin),
      doc = "per-user interval-union covered time: user-partitioned " +
        "sweep-line (running max of ends), exact integer micros, " +
        "utilization ppm of the first-to-last span"),

    // Q106 — pairwise Welch two-sample t-test on event values: the
    // parametric companion closing the q98 (KS) / q99 (Mann-Whitney)
    // family — "do the segment MEANS differ", unequal variances
    // allowed, with the Welch–Satterthwaite df making pairs
    // comparable. All five co-moments are exact order-independent
    // 64-bit integers (value in cents — q104 discipline); the only
    // floats are means/variances/t/df computed from those identical
    // integers by IDENTICALLY-SPELLED IEEE formulas in both engines
    // (q95/q99 discipline), then round(., 4). One scan, one
    // constant-size pair grid (event-type cardinality is bounded).
    "q106_welch_ttest" -> QueryDef(
      (s, d) => {
        val m = tbl(s, d, "events")
          .select(col("event_type"), cents(col("value")).as("c"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
            sum(col("c") * col("c")).as("sxx"))
          // variance needs n ≥ 2; engine-identical guard, no-op on the
          // testdata (every type has thousands of rows) but keeps the
          // n−1 denominators away from zero on degenerate corpora
          .filter(col("n") > 1L)
        Qh.pairGrid(m, "event_type", "type")
          .withColumn("va", expr("CAST(n_a * sxx_a - sx_a * sx_a AS DOUBLE) / " +
            "(CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))"))
          .withColumn("vb", expr("CAST(n_b * sxx_b - sx_b * sx_b AS DOUBLE) / " +
            "(CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE))"))
          .withColumn("se2", expr("va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE)"))
          .withColumn("t", expr("(CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) - " +
            "CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / sqrt(se2)"))
          .withColumn("df", expr("se2 * se2 / " +
            "((va / CAST(n_a AS DOUBLE)) * (va / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE) + " +
            "(vb / CAST(n_b AS DOUBLE)) * (vb / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE))"))
          .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
            col("sx_a"), col("sx_b"),
            round(col("t"), 4).as("t4"), round(col("df"), 2).as("df2"),
            (abs(col("t")) > 1.96).as("significant"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sx,
             |    CAST(sum(CAST(round(value*100) AS BIGINT) *
             |             CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sxx
             |  FROM events GROUP BY 1 HAVING count(*) > 1),
             |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    a.n AS n_a, b.n AS n_b, a.sx AS sx_a, b.sx AS sx_b,
             |    a.sxx AS sxx_a, b.sxx AS sxx_b
             |  FROM m a CROSS JOIN m b WHERE a.event_type < b.event_type),
             |v AS (SELECT *,
             |    CAST(n_a * sxx_a - sx_a * sx_a AS DOUBLE) /
             |      (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE)) AS va,
             |    CAST(n_b * sxx_b - sx_b * sx_b AS DOUBLE) /
             |      (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE)) AS vb
             |  FROM p),
             |s AS (SELECT *, va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS se2
             |  FROM v),
             |t AS (SELECT *,
             |    (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
             |     CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / sqrt(se2) AS t,
             |    se2 * se2 /
             |      ((va / CAST(n_a AS DOUBLE)) * (va / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE) +
             |       (vb / CAST(n_b AS DOUBLE)) * (vb / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)) AS df
             |  FROM s)
             |SELECT type_a, type_b, n_a, n_b, sx_a, sx_b,
             |  round(t, 4) AS t4, round(df, 2) AS df2, abs(t) > 1.96 AS significant
             |FROM t ORDER BY type_a, type_b""".stripMargin),
      doc = "pairwise Welch t-test on exact integer co-moments: floats " +
        "only in identically-spelled mean/variance/t/df formulas over " +
        "identical 64-bit integers"),

    // Q107 — seasonal-naive backtest (the forecasting-eval companion to
    // q84's dow-anomaly and q95's autocorrelation): per event type,
    // score the lag-7 "same weekday last week" forecast of daily event
    // counts against the actuals, and normalize by the lag-1 naive
    // error — the MASE shape (Hyndman–Koehler) that makes accuracy
    // comparable across types with different volumes. Everything is
    // exact integers: daily counts, absolute errors, and the final
    // ratio in ppm via one truncating div of 64-bit products (both
    // engines truncate non-negative divs identically). The day rollup
    // bounds all downstream work (≤ types × days rows at any corpus
    // scale); the lag windows partition by type.
    "q107_seasonal_naive" -> QueryDef(
      (s, d) => {
        val c = tbl(s, d, "events")
          .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint() // day-rollup feeds three readers; bounded
        val sn = c.as("a").join(
            c.select(col("event_type"), (col("day") + 7).as("day"),
              col("n").as("n_f")).as("f"),
            Seq("event_type", "day"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_scored"),
            sum(abs(col("n") - col("n_f"))).as("sum_abs_err"))
        val wl = Window.partitionBy("event_type").orderBy("day")
        val nv = c.withColumn("prev_n", lag(col("n"), 1).over(wl))
          .filter(col("prev_n").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_naive"),
            sum(abs(col("n") - col("prev_n"))).as("sum_naive_err"))
        sn.join(nv, Seq("event_type"))
          .withColumn("mase_ppm",
            expr("CASE WHEN sum_naive_err * n_scored = 0 THEN NULL " +
              "ELSE sum_abs_err * n_naive * 1000000 div (sum_naive_err * n_scored) END"))
          .select(col("event_type"), col("n_scored"), col("sum_abs_err"),
            col("n_naive"), col("sum_naive_err"), col("mase_ppm"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |sn AS (SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_scored,
             |    CAST(sum(abs(a.n - f.n)) AS BIGINT) AS sum_abs_err
             |  FROM c a JOIN c f ON f.event_type = a.event_type
             |    AND f.day + 7 = a.day
             |  GROUP BY 1),
             |nv AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_naive,
             |    CAST(sum(abs(n - prev_n)) AS BIGINT) AS sum_naive_err
             |  FROM (SELECT event_type, n,
             |          lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
             |        FROM c)
             |  WHERE prev_n IS NOT NULL GROUP BY 1)
             |SELECT sn.event_type AS event_type, n_scored, sum_abs_err, n_naive, sum_naive_err,
             |  CASE WHEN sum_naive_err * n_scored = 0 THEN NULL
             |    ELSE CAST(divide(sum_abs_err * n_naive * 1000000,
             |         sum_naive_err * n_scored) AS BIGINT) END AS mase_ppm
             |FROM sn JOIN nv ON nv.event_type = sn.event_type
             |ORDER BY 1""".stripMargin),
      doc = "seasonal-naive (lag-7) daily-count backtest with exact " +
        "integer MAE and a MASE-shaped ppm ratio against the lag-1 " +
        "naive baseline"),

    // Q112 — 3-step path mining: the order-2 sequential-pattern read
    // that q79's Markov transitions (order-1) cannot see — "click >
    // click > purchase" vs "view > click > purchase" are
    // indistinguishable in a first-order chain but are the whole point
    // of a funnel diagnosis. Two leads over the (user)-partitioned
    // event order build each consecutive type trigram; the global
    // rollup is bounded by |types|³ (125 here) at any corpus scale, so
    // the only large operand is the one user-keyed shuffle every
    // temporal operator shares. Share in exact ppm of all trigrams;
    // rank by exact count (total tiebreak on the path string).
    "q112_path_3gram" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val tri = tbl(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("t2", lead(col("event_type"), 1).over(w))
          .withColumn("t3", lead(col("event_type"), 2).over(w))
          .filter(col("t3").isNotNull)
          .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .localCheckpoint() // ≤ |types|³ rows: rank + total reuse it
        val tot = tri.agg(sum(col("n")).as("n_tri"))
        val wr = Window.orderBy(col("n").desc, col("path"))
        tri.crossJoin(broadcast(tot))
          .withColumn("share_ppm", expr("n * 1000000 div n_tri"))
          .withColumn("rnk", row_number().over(wr).cast("long"))
          .select(col("rnk"), col("path"), col("n"), col("share_ppm"))
          .orderBy("rnk")
      },
      Some("""WITH tri AS (SELECT event_type || '>' || t2 || '>' || t3 AS path
             |  FROM (SELECT event_type,
             |          lead(event_type, 1) OVER (PARTITION BY user_id
             |            ORDER BY ts, event_id) AS t2,
             |          lead(event_type, 2) OVER (PARTITION BY user_id
             |            ORDER BY ts, event_id) AS t3
             |        FROM events)
             |  WHERE t3 IS NOT NULL),
             |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM tri GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_tri FROM c)
             |SELECT CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rnk,
             |  path, n, CAST(divide(n * 1000000, n_tri) AS BIGINT) AS share_ppm
             |FROM c CROSS JOIN t ORDER BY rnk""".stripMargin),
      doc = "order-2 sequential paths (event-type trigrams) per user " +
        "order: two leads on the user-partitioned window, bounded " +
        "|types|-cubed rollup, exact ppm shares"),

    // Q116 — one-way ANOVA of spend across ISO weekdays, per event
    // type: the effect-size read ("does day-of-week explain ANY of the
    // value variance?") that q84's per-cell anomaly bands can't give —
    // eta² and the F statistic are the standard gate before shipping a
    // weekday feature. Integer layer: the dow groups are PIVOTED into
    // 14 exact per-type sums (n_g, S_g via one conditional hash agg —
    // never a float sum across groups, whose addend order Spark does
    // not define). Float layer: the between/total sums of squares as
    // ONE fixed-order expression over those integers — the 7 terms are
    // spelled literally (generated from the same Scala string into both
    // engines, so the IEEE op order is identical by construction, the
    // q99/q106 discipline), then round(·, 6)/(·, 4). Degenerate guards
    // (k = 1, zero within-variance) return NULL in both engines. One
    // scan; the pivot makes the downstream exactly one row per type.
    "q116_anova_dow" -> QueryDef(
      (s, d) => {
        val base = tbl(s, d, "events")
          .select(col("event_type"),
            expr("pmod(dayofweek(ts) + 5, 7) + 1").cast("long").as("dow"),
            cents(col("value")).as("c"))
        val aggs =
          Seq(count(lit(1)).as("n"), sum(col("c")).as("sx"),
            sum(expr("c * c")).as("ssx")) ++
          (1 to 7).flatMap(g => Seq(
            sum(when(col("dow") === g, 1L).otherwise(0L)).as(s"n$g"),
            sum(when(col("dow") === g, col("c")).otherwise(0L)).as(s"s$g")))
        base.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
          .withColumn("k", expr(AnovaKTerms).cast("long"))
          .withColumn("ssb", expr(s"($AnovaSsbTerms) - " +
            "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"))
          .withColumn("sst", expr("CAST(ssx AS DOUBLE) - " +
            "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"))
          .withColumn("eta2_6",
            expr("CASE WHEN sst > 0 THEN round(ssb / sst, 6) ELSE NULL END"))
          .withColumn("f4", expr(
            "CASE WHEN k > 1 AND n > k AND sst - ssb > 0 " +
              "THEN round((ssb / CAST(k - 1 AS DOUBLE)) / " +
              "((sst - ssb) / CAST(n - k AS DOUBLE)), 4) ELSE NULL END"))
          .select(col("event_type"), col("n"), col("k"),
            col("eta2_6"), col("f4"))
          .orderBy("event_type")
      },
      Some(s"""WITH b AS (SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
             |    CAST(round(value*100) AS BIGINT) AS c FROM events),
             |p AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(c) AS BIGINT) AS sx, CAST(sum(c*c) AS BIGINT) AS ssx,
             |${(1 to 7).map(g =>
        s"    CAST(sum(CASE WHEN dow = $g THEN 1 ELSE 0 END) AS BIGINT) AS n$g,\n" +
        s"    CAST(sum(CASE WHEN dow = $g THEN c ELSE 0 END) AS BIGINT) AS s$g")
        .mkString(",\n")}
             |  FROM b GROUP BY 1),
             |t AS (SELECT event_type, n, CAST($AnovaKTerms AS BIGINT) AS k,
             |    ($AnovaSsbTerms) -
             |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
             |    CAST(ssx AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS sst
             |  FROM p)
             |SELECT event_type, n, k,
             |  CASE WHEN sst > 0 THEN round(ssb / sst, 6) ELSE NULL END AS eta2_6,
             |  CASE WHEN k > 1 AND n > k AND sst - ssb > 0
             |    THEN round((ssb / CAST(k - 1 AS DOUBLE)) /
             |         ((sst - ssb) / CAST(n - k AS DOUBLE)), 4) ELSE NULL END AS f4
             |FROM t ORDER BY event_type""".stripMargin),
      doc = "one-way weekday ANOVA per event type: pivoted exact integer " +
        "group sums, fixed-order shared-spelling float SS expression, " +
        "eta-squared and F with NULL degenerate guards"),

    // Q120 — DAU/MAU stickiness: the canonical engagement ratio ("what
    // fraction of the monthly audience shows up on a given day"),
    // composing the exact daily-active rollup with a rolling 28-day
    // distinct via q38's contribution-explode — a user active on day d
    // contributes presence to days d..d+27, so the rolling distinct is
    // ONE groupBy, never a window-distinct (which Spark can't do) and
    // never a 28-way self-join. Presence rows are (user, day)-distinct
    // FIRST, so the explode is bounded by 28 × active-user-days — linear
    // in the corpus, shuffle-keyed by day. Exact integers; ratio in ppm
    // (DAU ⊆ MAU by construction, so the div is safe and ≤ 1e6).
    "q120_stickiness" -> QueryDef(
      (s, d) => {
        val pres = tbl(s, d, "events")
          .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("d"))
          .distinct()
          .localCheckpoint() // DAU + MAU explode + day-domain reuse it
        val days = pres.select(col("d").as("day")).distinct()
        val dau = pres.groupBy(col("d").as("day"))
          .agg(countDistinct(col("user_id")).as("dau"))
        val mau = pres.select(col("user_id"),
            explode(expr("sequence(d, date_add(d, 27))")).as("day"))
          .join(days, Seq("day"), "left_semi")
          .groupBy("day")
          .agg(countDistinct(col("user_id")).as("mau"))
        dau.join(mau, Seq("day"))
          .withColumn("stickiness_ppm", expr("dau * 1000000 div mau"))
          .select(col("day"), col("dau"), col("mau"), col("stickiness_ppm"))
          .orderBy("day")
      },
      Some("""WITH pres AS (SELECT DISTINCT user_id,
             |    CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
             |days AS (SELECT DISTINCT d AS day FROM pres),
             |dau AS (SELECT d AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
             |        FROM pres GROUP BY 1),
             |contrib AS (SELECT user_id, d + CAST(i AS INTEGER) AS day
             |            FROM (SELECT user_id, d, unnest(generate_series(0, 27)) AS i
             |                  FROM pres)),
             |mau AS (SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS mau
             |        FROM contrib c JOIN days ON days.day = c.day GROUP BY 1)
             |SELECT dau.day AS day, dau, mau,
             |  CAST(divide(dau * 1000000, mau) AS BIGINT) AS stickiness_ppm
             |FROM dau JOIN mau ON mau.day = dau.day
             |ORDER BY 1""".stripMargin),
      doc = "DAU/MAU stickiness per day: exact rolling 28-day distinct " +
        "via contribution-explode (no window-distinct, no self-join), " +
        "ppm ratio — the q38 pattern at engagement-dashboard scale"),

    // Q122 — week-over-week growth per market segment: the
    // period-over-period read every revenue dashboard leads with.
    // ISO-week rollup of exact cents (date_trunc('week') is
    // Monday-anchored in BOTH engines), then a segment-partitioned lag
    // and a SIGN-SAFE truncating ppm ratio (q93 discipline — plain div
    // rounds toward zero in Spark but floors in some engines; the CASE
    // makes the negative branch explicit). First week per segment is
    // NULL, not 0 — "no prior" must stay distinguishable from "flat".
    // Plan: one fact scan + custkey join, a bounded (segment × week)
    // rollup, windows partitioned by segment.
    "q122_wow_growth" -> QueryDef(
      (s, d) => {
        val wk = tbl(s, d, "orders")
          .join(tbl(s, d, "customer").select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment")), Seq("o_custkey"))
          .groupBy(col("c_mktsegment"),
            date_trunc("week", col("o_orderdate")).cast("date").as("week"))
          .agg(sum(cents(col("o_totalprice"))).as("cents"))
        val w = Window.partitionBy("c_mktsegment").orderBy("week")
        wk.withColumn("prev_cents", lag(col("cents"), 1).over(w))
          .withColumn("wow_ppm", expr(
            "CASE WHEN prev_cents IS NULL THEN NULL " +
              "WHEN cents >= prev_cents THEN (cents - prev_cents) * 1000000 div prev_cents " +
              "ELSE -((prev_cents - cents) * 1000000 div prev_cents) END"))
          .select(col("c_mktsegment"), col("week"), col("cents"),
            col("prev_cents"), col("wow_ppm"))
          .orderBy("c_mktsegment", "week")
      },
      Some("""WITH wk AS (SELECT c_mktsegment,
             |    CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
             |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders JOIN customer ON c_custkey = o_custkey
             |  GROUP BY 1, 2),
             |l AS (SELECT c_mktsegment, week, cents,
             |    lag(cents) OVER (PARTITION BY c_mktsegment ORDER BY week) AS prev_cents
             |  FROM wk)
             |SELECT c_mktsegment, week, cents, prev_cents,
             |  CASE WHEN prev_cents IS NULL THEN NULL
             |    WHEN cents >= prev_cents
             |      THEN CAST(divide((cents - prev_cents) * 1000000, prev_cents) AS BIGINT)
             |    ELSE -CAST(divide((prev_cents - cents) * 1000000, prev_cents) AS BIGINT)
             |  END AS wow_ppm
             |FROM l ORDER BY c_mktsegment, week""".stripMargin),
      doc = "week-over-week revenue growth per segment: Monday-anchored " +
        "week rollup in exact cents, segment-partitioned lag, sign-safe " +
        "ppm growth with NULL first weeks"),

    // Q123 — per-user feature assembly (the feature-store read): ONE
    // wide row per user with the engagement features a churn/LTV model
    // trains on — recency/tenure day arithmetic, exact activity and
    // type-mix counts (the five types pivoted by conditional agg, the
    // q116 discipline — never five scans), purchase cents, and the mean
    // inter-event gap in exact integer seconds (a (user)-window lag
    // pre-pass feeding the same single shuffle key). Everything is one
    // user-keyed shuffle; at 100 TB this is the canonical "assemble the
    // training matrix" pass and stays map-side-combinable throughout.
    "q123_user_features" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        tbl(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), cents(col("value")).as("c"),
            date_trunc("day", col("ts")).cast("date").as("day"),
            unix_micros(col("ts")).as("tus"))
          .withColumn("prev_us", lag(col("tus"), 1).over(w))
          .withColumn("gap_s", expr("(tus - prev_us) div 1000000"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("day")).as("active_days"),
            min(col("day")).as("first_day"),
            max(col("day")).as("last_day"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
            sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("n_signup"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
            sum(when(col("event_type") === "purchase", col("c")).otherwise(0L))
              .as("purchase_cents"),
            count(col("gap_s")).as("n_gaps"),
            coalesce(sum(col("gap_s")), lit(0L)).as("gap_total_s"))
          .withColumn("tenure_days",
            datediff(col("last_day"), col("first_day")).cast("long"))
          .withColumn("mean_gap_ms", expr(
            "CASE WHEN n_gaps = 0 THEN NULL ELSE gap_total_s * 1000 div n_gaps END"))
          .select(col("user_id"), col("n_events"), col("active_days"),
            col("first_day"), col("last_day"), col("tenure_days"),
            col("n_click"), col("n_view"), col("n_purchase"),
            col("n_signup"), col("n_error"), col("purchase_cents"),
            col("mean_gap_ms"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, ts, event_id, event_type,
             |    CAST(round(value*100) AS BIGINT) AS c,
             |    CAST(date_trunc('day', ts) AS DATE) AS day,
             |    epoch_us(ts) AS tus,
             |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev_us
             |  FROM events),
             |g AS (SELECT *, CASE WHEN prev_us IS NULL THEN NULL
             |    ELSE divide(tus - prev_us, 1000000) END AS gap_s FROM e),
             |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |    CAST(count(DISTINCT day) AS BIGINT) AS active_days,
             |    min(day) AS first_day, max(day) AS last_day,
             |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
             |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
             |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
             |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
             |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
             |    CAST(sum(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END) AS BIGINT) AS purchase_cents,
             |    CAST(count(gap_s) AS BIGINT) AS n_gaps,
             |    CAST(coalesce(sum(gap_s), 0) AS BIGINT) AS gap_total_s
             |  FROM g GROUP BY 1)
             |SELECT user_id, n_events, active_days, first_day, last_day,
             |  CAST(divide(epoch_us(CAST(last_day AS TIMESTAMP))
             |    - epoch_us(CAST(first_day AS TIMESTAMP)), 86400000000) AS BIGINT) AS tenure_days,
             |  n_click, n_view, n_purchase, n_signup, n_error, purchase_cents,
             |  CASE WHEN n_gaps = 0 THEN NULL
             |    ELSE CAST(divide(gap_total_s * 1000, n_gaps) AS BIGINT) END AS mean_gap_ms
             |FROM a ORDER BY user_id""".stripMargin),
      doc = "per-user feature-store row: tenure/activity/type-mix/spend/" +
        "cadence in one user-keyed pass — exact integers, pivoted type " +
        "counts, NULL-guarded mean gap"))
}

package graft

import org.apache.spark.sql.functions._

/** [[Qh.gridPercentiles]] against the `percentile()` aggregate it
  * replaces, on a keyed frame with NULL values: nulls are ignored by
  * both — in the count, the stats and the covering-row search — and a
  * key whose values are all NULL reads NULL percentiles. */
class GridPercentilesSpec extends SparkSpec {
  import spark.implicits._

  test("NULL values are ignored as percentile() ignores them, incl. an all-NULL key") {
    val rows: Seq[(String, Option[Long])] =
      (0L until 40L).map(i => ("mixed", if (i % 3 == 0) None else Some((i * 7) % 11))) ++
        Seq(("one", Some(5L)), ("one", None)) ++
        Seq(("allnull", None), ("allnull", None)) ++
        (0L until 9L).map(i => ("dense", Some(i / 2)))
    val df = rows.toDF("k", "v")
    val ps = Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9)
    val got = Qh.gridPercentiles(df, Seq("k"), col("v"), ps)
      .select(col("k"), col("__n"), col("__min"), col("__max"), col("__sum"),
        col("p25"), col("p50"), col("p90"))
      .as[(String, Option[Long], Option[Long], Option[Long], Option[Long],
        Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val want = df.groupBy("k").agg(
        when(count(col("v")) > 0, count(col("v"))).as("n"),
        min(col("v")), max(col("v")), sum(col("v")),
        percentile(col("v"), lit(0.25)), percentile(col("v"), lit(0.5)),
        percentile(col("v"), lit(0.9)))
      .as[(String, Option[Long], Option[Long], Option[Long], Option[Long],
        Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got == want)
    assert(got("allnull")._6.isEmpty && got("allnull")._2.isEmpty, got("allnull"))
    assert(got("one")._2.contains(1L) && got("one")._7.contains(5.0), got("one"))
  }
}

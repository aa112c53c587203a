package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** [[Qh.gridPercentiles]] against the `percentile()` aggregate it
  * replaces: on a keyed frame with NULL values (nulls are ignored by
  * both — in the count, the stats and the covering-row search — and a
  * key whose values are all NULL reads NULL percentiles), and as a
  * property over random keyed long frames in the cents/seconds domain
  * of q31/q89/q93/q103/q117. */
class GridPercentilesSpec extends SparkSpec {
  import spark.implicits._

  private val Mag = 1000000000000L // 1e12
  private val value: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(-5L, 5L),
    2 -> Gen.choose(-Mag, Mag),
    1 -> Gen.oneOf(-Mag, Mag))
  // a key's values: often drawn from a small pool (heavy ties), one in
  // five keys has a single row
  private val group: Gen[Seq[Long]] = for {
    n <- Gen.frequency(1 -> Gen.const(1), 4 -> Gen.choose(2, 60))
    pool <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, value))
    vs <- Gen.frequency(1 -> Gen.listOfN(n, value), 2 -> Gen.listOfN(n, Gen.oneOf(pool)))
  } yield vs
  private val frame: Gen[Seq[Seq[Long]]] = Gen.choose(1, 8).flatMap(Gen.listOfN(_, group))

  test("property: gridPercentiles equals percentile() per key on tied, signed, 1e12-scale longs") {
    val ps = Seq("p0" -> 0.0, "p1" -> 0.01, "p25" -> 0.25, "p50" -> 0.5,
      "p90" -> 0.9, "p99" -> 0.99, "p100" -> 1.0)
    def byKey(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[Double]] =
      df.collect().map(r => r.getInt(0) -> (1 to ps.length).map(r.getDouble)).toMap
    // each trial is two Spark jobs; shrinking is off to keep a failure
    // inside the time budget (the failing frame is printed whole)
    val prop = Prop.forAllNoShrink(frame) { groups =>
      val df = groups.zipWithIndex.flatMap { case (vs, k) => vs.map(v => (k, v)) }.toDF("k", "v")
      val got = byKey(Qh.gridPercentiles(df, Seq("k"), col("v"), ps)
        .select(col("k") +: ps.map(p => col(p._1)): _*))
      val want = byKey(df.groupBy("k").agg(
        percentile(col("v"), lit(ps.head._2)).as(ps.head._1),
        ps.tail.map(p => percentile(col("v"), lit(p._2)).as(p._1)): _*))
      Prop(got == want) :| s"frame=$groups got=$got want=$want"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

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

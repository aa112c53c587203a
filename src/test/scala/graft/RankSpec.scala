package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[Qh.globalRowNumber]] / [[Qh.ntileFromRn]] — the distributed two-pass
  * bucketed prefix-rank behind every global ranking in the query surface
  * (q68 deciles, q73 quintiles, text_quality_ensemble Borda ranks). The
  * reference ranking here is computed driver-side over collected rows, so
  * a helper bug cannot hide behind the same WindowExec it replaces.
  */
class RankSpec extends SparkSpec {
  import spark.implicits._
  import Qh.{globalRowNumber, ntileFromRn}

  /** Driver-side reference: 1-based rank of each (value, tie) pair under
    * ascending lexicographic order. */
  private def refRank(rows: Seq[(Long, Long)]): Map[(Long, Long), Long] =
    rows.sorted.zipWithIndex.map { case (r, i) => r -> (i + 1L) }.toMap

  private def got(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
    df.select($"v", $"t", $"rn").as[(Long, Long, Long)].collect()
      .map { case (v, t, rn) => (v, t) -> rn }.toMap

  test("matches the driver-side reference on a mixed-tie relation") {
    // values deliberately collide (v = id % 7) so bucket-boundary and
    // tie handling are both exercised; tie key unique
    val rows = (0L until 997L).map(i => ((i * 31) % 7, i))
    val df = rows.toDF("v", "t").repartition(5)
    val r = globalRowNumber(df, col("v"), col("t"), "rn")
    assert(r.n == 997L)
    assert(got(r.df) == refRank(rows))
  }

  test("heavy tie skew takes the composite-bucket path and stays parallel") {
    // one dominant value (the s_len-capped / order-frequency shape):
    // 90% of rows share v=5. Value-only buckets would put them all in
    // one task; the composite (v, t) proxy must spread them.
    val rows = (0L until 2000L).map(i => (if (i % 10 == 0) i % 5 else 5L, i))
    val df = rows.toDF("v", "t").repartition(7)
    val r = globalRowNumber(df, col("v"), col("t"), "rn")
    assert(got(r.df) == refRank(rows))
    // parallelism proof: the window's bucket key takes >1 distinct value
    // over the dominant tie group (buckets default 256, span ≈ v-span ×
    // tie-span ≫ 256)
    val tagged = df.withColumn("__k",
      (col("v") - 0L) * 2000L + col("t")) // the composite the helper builds
    val perBucket = tagged.filter(col("v") === 5L)
      .select((col("__k") * 256L / (5L * 2000L)).as("b")).distinct().count()
    assert(perBucket > 1, "dominant value must span multiple buckets")
  }

  test("wide-domain values overflow the composite and fall back to value-only buckets") {
    // span(v) × span(t) ≫ 2^62 forces the fallback; values near-unique so
    // the fallback is also the CORRECT regime for it
    val rows = (0L until 5000L).map(i => (i * (1L << 45), i))
    val df = rows.toDF("v", "t").repartition(3)
    val r = globalRowNumber(df, col("v"), col("t"), "rn")
    assert(got(r.df) == refRank(rows))
  }

  test("descending order = negated column (the q73/ensemble spelling)") {
    val rows = (0L until 500L).map(i => ((i * 13) % 50, i))
    val df = rows.toDF("v", "t")
    val r = globalRowNumber(df, -col("v"), col("t"), "rn")
    val ref = rows.map { case (v, t) => (-v, t) }.sorted.zipWithIndex
      .map { case ((nv, t), i) => (-nv, t) -> (i + 1L) }.toMap
    assert(got(r.df) == ref)
  }

  test("empty input yields n = 0 and an empty ranked frame") {
    val df = Seq.empty[(Long, Long)].toDF("v", "t")
    val r = globalRowNumber(df, col("v"), col("t"), "rn")
    assert(r.n == 0L)
    assert(r.df.count() == 0L)
  }

  test("a rank.buckets × metrics product past the offset-read bound fails before any job") {
    // 2M buckets × 3 metrics = 6M offset rows > the 2^22-row driver read:
    // the (nBuckets * m).toInt bound must not reach boundedCollect, whose
    // error would not name the argument
    val df = (0L until 10L).map(i => (i, i * 2, i * 3)).toDF("a", "b", "c")
    val group = "rank-bound-" + java.util.UUID.randomUUID()
    spark.sparkContext.setJobGroup(group, "rank bound check")
    try {
      val ex = intercept[IllegalArgumentException] {
        Qh.globalRowNumbers(df, Seq(col("a") -> "ra", col("b") -> "rb", col("c") -> "rc"),
          col("a"), nBuckets = 2000000L)
      }
      assert(ex.getMessage.contains("nBuckets=2000000"), ex.getMessage)
      assert(ex.getMessage.contains("3 ranked metric"), ex.getMessage)
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
        "the bound is checked before the bounds aggregate runs")
    } finally spark.sparkContext.clearJobGroup()
  }

  test("ntileFromRn reproduces SQL ntile for every residue class") {
    // n % k ∈ {0, ..} incl. the uneven split (n=10,k=4 → 3,3,2,2) and
    // the degenerate n < k (each row its own tile)
    for ((n, k) <- Seq((10L, 4L), (10L, 3L), (12L, 4L), (7L, 7L), (3L, 5L), (100L, 10L))) {
      val df = (1L to n).toDF("rn")
      val viaFormula = df.withColumn("tile", ntileFromRn("rn", n, k))
        .select($"rn", $"tile").as[(Long, Long)].collect().toMap
      val viaWindow = (1L to n).toDF("x")
        .withColumn("rn", row_number().over(Window.orderBy("x")).cast("long"))
        .withColumn("tile", ntile(k.toInt).over(Window.orderBy("x")).cast("long"))
        .select($"rn", $"tile").as[(Long, Long)].collect().toMap
      assert(viaFormula == viaWindow, s"ntile mismatch at n=$n k=$k")
    }
  }

  test("the ranked plan contains no unpartitioned window") {
    val df = (0L until 100L).map(i => (i % 9, i)).toDF("v", "t")
    val r = globalRowNumber(df, col("v"), col("t"), "rn")
    val bad = r.df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "helper must never emit a global window")
  }
}

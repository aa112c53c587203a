package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Qh}
import Qh._

/** Physical data layout for 100 TB-scale scans and joins: bucketing
  * (pre-shuffled, co-located join keys) and partitioned directory
  * layout (coarse pruning before a single row is read).
  *
  * Both are WRITE-ONCE optimizations: the expensive shuffle/sort happens
  * when the table is laid down, and every subsequent consumer gets its
  * benefit for free — the same cluster-once/consume-many shape as
  * [[Dedup.writeClusters]] and the persistent LSH band index. On a real
  * cluster the layout tables live in the warehouse; here they are
  * memoized per (corpus dir, layout) under a per-process temp root with
  * a shutdown-hook cleanup, so repeat queries in one session measure the
  * CONSUMER cost, which is the number that matters at scale.
  *
  * Scale notes:
  *  - A bucketed sort-merge join of two 100 TB fact tables is THE case
  *    where co-location pays: both sides are already hash-distributed
  *    and sorted on the join key at write time, so the join plan has NO
  *    Exchange under it (plan-gated in OperatorSpec) — the two scans
  *    stream straight into the merge. Bucket counts must match (or be
  *    coalescible); we pin both sides to [[LayoutBuckets]].
  *  - Writers `repartition(n, key)` before `bucketBy(n, key)`: Spark's
  *    repartition and its bucket assignment use the same
  *    `pmod(murmur3, n)`, so each task holds exactly its own bucket and
  *    writes ONE file — avoiding the tasks×buckets small-file explosion
  *    and letting the reader elide the merge sort (one pre-sorted file
  *    per bucket).
  *  - Partition pruning is directory-level: a predicate on the partition
  *    column never touches file footers outside the selected
  *    directories. The spec asserts `PartitionFilters` lands in the scan
  *    node. Month granularity (~84 partitions over the orders range)
  *    keeps directories coarse — daily partitioning of a 100 TB/year
  *    table would produce small files and metastore pressure for no
  *    extra pruning power on month-range queries.
  *
  * Reference behavior mirrored: the engine's stored tables are
  * query-route scoped (internal/db/dynamodb.go keys by content id and
  * TTL window) — the analytics-side analog is keyed physical layout
  * that later reads exploit without re-shuffling.
  */
object Layout {

  /** Bucket count for both sides of the co-located join. At 100 TB pick
    * buckets ≈ cluster cores (thousands); the VALUE is irrelevant to
    * results — only that both sides agree. */
  val LayoutBuckets = 16

  /** Inclusive month range (yyyymm) the pruning query reads — 3 of the
    * ~80 months in the orders table, so the pruned scan provably skips
    * >95% of directories at every sf. */
  val PruneLo = 199601
  val PruneHi = 199603

  // Per-process root for layout tables (mirrors Dedup.clustersRoot):
  // removed on JVM exit, memo keyed by (corpus dir, layout kind, name).
  private val written = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val layoutRoot = processTempRoot("graft-layout-")

  /** Table names carry a process-unique counter, NOT a hash of the corpus
    * dir: 32-bit String.hashCode collides trivially ("Aa"/"BB"), and two
    * corpora sharing one table would each read whichever wrote last (the
    * [[Dedup.clustersTable]] rationale). */
  private val layoutSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The catalog-safe name (identifiers allow [a-z0-9_]) of layout
    * `kind`/`name` of `dir`; the first call per key writes it. */
  private def memo(dir: String, kind: String, name: String)(write: String => Unit): String =
    written.computeIfAbsent(s"$dir#$kind#$name", { _ =>
      val id = s"graft_${kind}_${name}_${layoutSeq.getAndIncrement()}"
      write(id)
      id
    })

  /** [[memo]] for a layout written to a path under the temp root. */
  private def pathMemo(dir: String, kind: String, name: String)(write: String => Unit): String =
    s"$layoutRoot/" + memo(dir, kind, name)(id => write(s"$layoutRoot/$id"))

  /** Write `df` as a bucketed, per-bucket-sorted EXTERNAL table (data
    * under the per-process temp root, metadata in the session catalog)
    * and return it. Memoized per (dir, name): the first consumer in a
    * process pays the layout shuffle; every later read is a plain
    * bucketed scan. Assumes the corpus under `dir` is immutable for the
    * process lifetime (the [[Dedup.clustersTable]] contract). */
  def bucketedTable(spark: SparkSession, dir: String, name: String,
      df: => DataFrame, bucketCol: String, n: Int = LayoutBuckets): DataFrame = {
    spark.table(memo(dir, "bkt", name) { table =>
      df.repartition(n, col(bucketCol))
        .write.format("parquet")
        .bucketBy(n, bucketCol).sortBy(bucketCol)
        .option("path", s"$layoutRoot/$table")
        .mode(SaveMode.Overwrite)
        .saveAsTable(table)
    })
  }

  /** Write `df` hive-partitioned by integer column `partCol` (one
    * subdirectory per value, one file per directory via the pre-write
    * repartition) and return the path. Memoized like [[bucketedTable]]. */
  def partitionedLayout(dir: String, name: String, df: => DataFrame,
      partCol: String): String =
    pathMemo(dir, "part", name) { path =>
      df.repartition(col(partCol))
        .write.partitionBy(partCol).mode(SaveMode.Overwrite).parquet(path)
    }

  /** Z-order (Morton) interleave of two 8-bit dimensions: bit i of x
    * lands at z-bit 2i, bit i of y at 2i+1. Sorting by z gives runs that
    * are simultaneously local in BOTH dimensions — the standard
    * multi-dimensional clustering key for file-level min/max skipping
    * (Delta/Iceberg OPTIMIZE ZORDER shape). Emitted as portable integer
    * arithmetic (div/mod/multiply — no shift operators, which DuckDB and
    * Spark spell differently); `intDiv` injects each engine's integer-
    * division spelling. */
  private def zExpr(x: String, y: String, intDiv: (String, Int) => String): String =
    (0 until 8).map { i =>
      val bit = 1 << i
      s"((${intDiv(x, bit)}) % 2 + 2 * ((${intDiv(y, bit)}) % 2)) * ${1L << (2 * i)}"
    }.mkString(" + ")

  /** Spark-side z-value (native `div`). */
  def zCol(x: String, y: String): org.apache.spark.sql.Column =
    expr(zExpr(x, y, (c, n) => s"$c div $n"))

  /** Engine-neutral SQL z-value (`divide()` alias). */
  def zSql(x: String, y: String): String =
    zExpr(x, y, (c, n) => s"divide($c, $n)")

  /** Write `df` z-clustered on (xCol, yCol) — global range partition +
    * in-partition sort on the interleaved key, one file per range — and
    * return the path. The consumer-side payoff (file-level min/max
    * skipping on EITHER dimension) is asserted in OperatorSpec. */
  def zorderLayout(dir: String, name: String, df: => DataFrame,
      xCol: String, yCol: String, files: Int = LayoutBuckets): String =
    pathMemo(dir, "z", name) { path =>
      df.withColumn("__z", zCol(xCol, yCol))
        .repartitionByRange(files, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(SaveMode.Overwrite).parquet(path)
    }

  /** Write `df` deliberately FRAGMENTED (`files` small files) — the
    * "streaming ingest left a mess" fixture compaction cleans up.
    * Memoized like [[bucketedTable]]. */
  def fragmentedLayout(dir: String, name: String, df: => DataFrame,
      files: Int): String =
    pathMemo(dir, "frag", name)(df.repartition(files).write.mode(SaveMode.Overwrite).parquet(_))

  /** Small-file compaction: rewrite a fragmented layout as
    * ⌈rows / targetRows⌉ range-partitioned files CLUSTERED on `keyCol`
    * (global range partition + in-file sort), and return the new path.
    *
    * This is the maintenance op every streaming/incremental pipeline
    * needs at scale: micro-batch sinks and per-task writers leave
    * thousands of KB-sized files per partition, and scan throughput on
    * 100 TB dies on open/footer overhead long before bytes do. The
    * rewrite costs ONE shuffle (range exchange), and because the new
    * files are key-clustered it simultaneously buys file-level min/max
    * skipping on `keyCol` — compaction and clustering in the same pass
    * (the Delta/Iceberg OPTIMIZE shape). Content preservation is proven
    * in the spec with the q57 order-invariant checksum; file count,
    * per-file bounds, and disjoint key ranges are asserted there too.
    */
  def compactLayout(spark: SparkSession, fragPath: String, keyCol: String,
      targetRows: Long): String = {
    val out = s"$fragPath-compact"
    written.computeIfAbsent(s"compact#$out", { _ =>
      val df = spark.read.parquet(fragPath)
      val rows = df.count()
      val nFiles = math.max(1L, (rows + targetRows - 1) / targetRows).toInt
      df.repartitionByRange(nFiles, col(keyCol))
        .sortWithinPartitions(keyCol)
        .write.mode(SaveMode.Overwrite).parquet(out)
      out
    })
    out
  }

  /** Orders with the yyyymm partition key the month layout is keyed by. */
  private def ordersWithYm(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "orders").withColumn("ym",
      (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))))

  val defs: Seq[(String, QueryDef)] = Seq(
    // Co-located join: customer and orders both bucketed on their join
    // key into the same bucket count, then sort-merge joined WITHOUT any
    // exchange (hint("merge") pins the strategy so the plan gate tests
    // the bucketed-SMJ shape, not a broadcast that would also pass at
    // test scale but not at 100 TB fact×fact). The only shuffle in the
    // whole query is the final per-nation rollup's — and that input is
    // already the joined/projected stream. Oracle: the layout is an
    // execution-strategy rewrite and must be result-invisible, so the
    // oracle is the PLAIN join SQL on the raw tables (the Skew.defs
    // precedent).
    "layout_bucketed_join" -> QueryDef(
      (s, d) => {
        val cust = bucketedTable(s, d, "customer",
          tbl(s, d, "customer").select("c_custkey", "c_nationkey"), "c_custkey")
        val ords = bucketedTable(s, d, "orders",
          tbl(s, d, "orders").select("o_custkey", "o_totalprice"), "o_custkey")
        cust.join(ords.hint("merge"), col("c_custkey") === col("o_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nationkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(cents(col("o_totalprice"))).as("sum_cents"))
          .orderBy("nationkey")
      },
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = s"customer⋈orders both pre-bucketed on the join key ($LayoutBuckets buckets): " +
        "sort-merge join with zero exchanges under it (plan-gated)"),

    // Partition pruning: orders laid out by month directory; a 3-month
    // range predicate reads 3 of ~80 directories and the scan node
    // carries it as PartitionFilters (plan-gated) — no file outside the
    // range is even opened. Oracle: same predicate computed from the raw
    // date column.
    "layout_partition_prune" -> QueryDef(
      (s, d) => {
        val path = partitionedLayout(d, "orders_ym", ordersWithYm(s, d), "ym")
        s.read.parquet(path)
          .filter(col("ym").between(PruneLo, PruneHi))
          .groupBy(col("ym").cast("long").as("ym"))
          .agg(count(lit(1)).as("n_orders"),
            sum(cents(col("o_totalprice"))).as("sum_cents"))
          .orderBy("ym")
      },
      Some(s"""SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT) AS ym,
              |  CAST(count(*) AS BIGINT) AS n_orders,
              |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
              |FROM orders
              |WHERE year(o_orderdate)*100 + month(o_orderdate) BETWEEN $PruneLo AND $PruneHi
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = s"month-partitioned orders layout; $PruneLo..$PruneHi range reads 3 of ~80 " +
        "directories via PartitionFilters (plan-gated)"),

    // Z-order clustering quality, made oracle-checkable: orders projected
    // onto two independent 8-bit dimensions (customer-hash, price bucket),
    // bucketed into 16 z-contiguous ranges, and each bucket reports its
    // bounding box in BOTH dimensions. Z-contiguity bounds both spans at
    // once (a single-dimension sort would leave the other span at ~full
    // range — the quantified contrast is spec-gated in OperatorSpec along
    // with the real file-level payoff via [[zorderLayout]]). The ntile
    // stands in for the range-partitioner's boundaries so the bucketing is
    // deterministic and portable; the write path (repartitionByRange on
    // the same key) is the sampled, fully-parallel version of exactly this
    // ordering. Output: 16 rows.
    "layout_zorder" -> QueryDef(
      (s, d) => {
        val w = Window.orderBy(col("z"), col("o_orderkey"))
        tbl(s, d, "orders")
          .select(col("o_orderkey"),
            pmod(col("o_custkey"), lit(256L)).as("xd"),
            least(expr("CAST(round(o_totalprice*100) AS BIGINT) div 25000"),
              lit(255L)).as("yd"))
          .withColumn("z", zCol("xd", "yd"))
          .withColumn("bucket", ntile(16).over(w).cast("long"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min(col("xd")).as("min_x"), max(col("xd")).as("max_x"),
            min(col("yd")).as("min_y"), max(col("yd")).as("max_y"))
          .withColumn("box_span", col("max_x") - col("min_x") + col("max_y") - col("min_y"))
          .orderBy("bucket")
      },
      Some(s"""WITH b AS (SELECT o_orderkey, o_custkey % 256 AS xd,
              |    LEAST(divide(CAST(round(o_totalprice*100) AS BIGINT), 25000), 255) AS yd
              |  FROM orders),
              |z AS (SELECT o_orderkey, xd, yd, ${zSql("xd", "yd")} AS z FROM b),
              |t AS (SELECT xd, yd,
              |        CAST(ntile(16) OVER (ORDER BY z, o_orderkey) AS BIGINT) AS bucket
              |      FROM z)
              |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
              |  CAST(min(xd) AS BIGINT) AS min_x, CAST(max(xd) AS BIGINT) AS max_x,
              |  CAST(min(yd) AS BIGINT) AS min_y, CAST(max(yd) AS BIGINT) AS max_y,
              |  CAST(max(xd) - min(xd) + max(yd) - min(yd) AS BIGINT) AS box_span
              |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin),
      doc = "Morton/Z-order clustering: 16 z-contiguous buckets, per-bucket " +
        "bounding boxes tight in BOTH dimensions; file-level skipping spec-gated"))
}

package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * One parquet file (or a directory of part files) per table under
  * `\$dir/\$name.parquet`. Opening a table with a bare `spark.read.parquet`
  * costs one Spark schema-inference job (a footer read on the executors)
  * per open, before the query does any work. So the loader infers each
  * table's schema once per process and opens it with
  * `spark.read.schema(..).parquet(..)`: a memo hit starts no job. The memo
  * key is the table's canonical path; its leaf files' count, total length
  * and latest mtime (a rewritten file or an added part file re-keys); and
  * the session's `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*`
  * values, which decide how the footer maps to a Spark schema. The
  * inference itself runs outside the map's lock, so concurrent openers of
  * a new key may both infer it; either result is the same schema.
  *
  * `events.ts` has shipped in two physical layouts across testdata
  * generations, so the loader is schema-adaptive:
  *
  *   - parquet TIMESTAMP(NANOS): Spark's reader rejects it unless
  *     `spark.sql.legacy.parquet.nanosAsLong=true` is set on the session
  *     (every graft session builder does: Bench/Verify/Smoke/SparkSpec);
  *     we then see a LongType and truncate ns→µs with INTEGER division
  *     (`div` — a double division would lose precision at ~1.7e18 ns).
  *     DuckDB truncates ns→us identically on cast.
  *   - parquet TIMESTAMP(MICROS) without tz: Spark infers TIMESTAMP_NTZ.
  *     The generator writes UTC wall-clock values, so we interpret the NTZ
  *     wall-clock AS UTC and produce a session-zone TIMESTAMP carrying the
  *     same instant. A bare `cast("timestamp")` would interpret the
  *     wall-clock in the SESSION timezone and silently shift every instant
  *     on a non-UTC session; routing through `convert_timezone('UTC',
  *     sessionTz, ·)` first makes the instant session-tz-invariant
  *     (TablesSchemaDriftSpec proves both layouts agree under a non-UTC
  *     zone). On a UTC session the conversion is the identity.
  *
  * The loader never mutates session config.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** What identifies one version of a table as a given session reads it. */
  private final case class Key(path: String, files: Int, bytes: Long, mtime: Long,
      conf: Seq[(String, String)])

  private val schemas = new ConcurrentHashMap[Key, StructType]()
  private val rowCounts = new ConcurrentHashMap[Key, java.lang.Long]()

  /** The memo key of `\$dir/\$name.parquet` and its parquet leaf files
    * (hidden `_`/`.` files such as `_SUCCESS` and checksums excluded, as
    * Spark's file index does). A driver-side listing; no job. */
  private def leaves(spark: SparkSession, dir: String, name: String): (Key, Seq[FileStatus]) = {
    val p = new Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.resolvePath(p)
    val it = fs.listFiles(root, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next(): FileStatus)
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
      .toVector
    val conf = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    (Key(root.toString, files.size, files.map(_.getLen).sum,
      files.map(_.getModificationTime).foldLeft(0L)(math.max), conf), files)
  }

  private def memo[V](m: ConcurrentHashMap[Key, V], k: Key)(compute: => V): V =
    Option(m.get(k)).getOrElse { val v = compute; m.putIfAbsent(k, v); v }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = memo(schemas, leaves(spark, dir, name)._1) {
      try spark.read.parquet(path).schema
      catch {
        // A NANOS file without the legacy flag dies inside Parquet footer
        // conversion (before the schema is inspectable) with an inscrutable
        // "Illegal Parquet type: INT64 (TIMESTAMP(NANOS,false))" — rethrow
        // with actionable guidance. External sessions calling into
        // SparkEntry must opt in; the loader stays side-effect free.
        case e: Exception
            if String.valueOf(e.getMessage).contains("Illegal Parquet type") &&
              String.valueOf(e.getMessage).contains("NANOS") =>
          throw new IllegalStateException(
            s"$name.parquet carries TIMESTAMP(NANOS); build the SparkSession with " +
              ".config(\"spark.sql.legacy.parquet.nanosAsLong\", \"true\") " +
              "(all graft session builders do)", e)
      }
    }
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") df.withColumn("ts", normalizeTs(spark, df, "ts"))
    else df
  }

  /** Exact row count of a table, summed from its parquet footers on the
    * driver: no job, and no schema inference, so a size guard can refuse
    * a table before anything is read. Memoised under the same key as the
    * schema. */
  def rows(spark: SparkSession, dir: String, name: String): Long = {
    val (k, files) = leaves(spark, dir, name)
    memo(rowCounts, k) {
      val conf = spark.sparkContext.hadoopConfiguration
      java.lang.Long.valueOf(files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }.sum)
    }.longValue
  }

  /** Normalize a timestamp column that may arrive as ns-as-long (legacy
    * NANOS layout under nanosAsLong), TIMESTAMP_NTZ (µs layout, no tz), or
    * already-correct TIMESTAMP, to session-zone TIMESTAMP with identical
    * instants in all three cases.
    */
  private def normalizeTs(spark: SparkSession, df: DataFrame, colName: String) =
    df.schema(colName).dataType match {
      case LongType =>
        timestamp_micros(expr(s"$colName div 1000"))
      case TimestampNTZType =>
        // NTZ wall-clock is UTC by generator contract. Rewrite the wall
        // clock into the session zone, then cast — the cast's session-tz
        // interpretation then lands on the original UTC instant no matter
        // what the session timezone is. (Sub-risk: DST-ambiguous local
        // times exist only on non-UTC sessions, one hour per year; the
        // driver gate always runs UTC where the path is exact identity.)
        val tz = spark.conf.get("spark.sql.session.timeZone")
        convert_timezone(lit("UTC"), lit(tz), col(colName)).cast(TimestampType)
      case TimestampType => col(colName)
      case other =>
        throw new IllegalStateException(
          s"unsupported physical type for $colName: $other " +
            "(expected INT64 nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }

  /** Register every table as a temp view (used by tests / SQL surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Extra args = query-name filter (builder-local pre-flight loop with
    // tools/selfcheck.py; the driver always passes exactly two args and
    // gets the full dump + stale-clean).
    val only = args.drop(2).toSet
    val spark = GraftSession()
    // Clear stale results first: a query that THROWS this run must not be
    // silently graded against a previous run's surviving parquet.
    val root = new java.io.File(outDir)
    if (root.exists() && only.isEmpty) Qh.deleteTree(root)
    root.mkdirs()
    var failed = 0
    val selected = SparkEntry.queries.filter {
      case (name, _) => only.isEmpty || only.contains(name)
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    System.err.println(s"[verify] done: ${selected.size - failed}/${selected.size} dumped")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

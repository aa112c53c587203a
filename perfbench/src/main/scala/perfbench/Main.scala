package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Usage:
  *
  * {{{
  * perfbench.Main --workload <sentiflow|analytics_mix>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> [--tables <dir>]
  * }}}
  *
  * Writes `<work>/result.json` (see [[Report.json]]) and, when traced,
  * `<work>/spans.jsonl`. `perfbench/run.py` is the front end that builds,
  * generates the analytics tables and runs the oracle checks. */
object Main {
  /** All Spark work runs in one `local[n]` session, n capped at 4 cores. */
  val MaxCores = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val cores = math.min(Runtime.getRuntime.availableProcessors, MaxCores)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] session $sessionS%.2f s")

    val listener = new TaskListener
    spark.sparkContext.addSparkListener(listener)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val run = s"$workload-$seed-${if (trace) 1 else 0}-${System.currentTimeMillis()}"
    val env = Env(spark, listener, progress, run, seed, work)

    val r = new Report.Result
    workload match {
      case "sentiflow"     => new Sentiflow(env).run(seconds, trace, r)
      case "analytics_mix" => new Mix(env, a("tables")).run(seconds, trace, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r("setup_s") = sessionS + r.values.getOrElse("setup_s", 0.0)
    r("bench.peak_rss_mb") = peakRssMb()
    val metrics = if (trace) Report.perLayer(Mix.Queries) else Report.EndToEnd
    Files.writeString(work.resolve("result.json"), Report.json(r, metrics) + "\n")
    spark.stop()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

final case class Env(spark: SparkSession, listener: TaskListener, progress: ProgressLog,
    runId: String, seed: Long, work: Path) {
  private var n = 0
  /** A fresh directory under the work dir. */
  def dir(tag: String): Path = synchronized {
    n += 1
    Files.createDirectories(work.resolve(f"$tag-$n%03d"))
  }
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Repeat `step` at least twice, then while another step is expected to
    * end nearer `budgetS` than stopping now; returns the steps' results. */
  def repeatFor[T](budgetS: Double)(step: Int => (T, Double)): Seq[(T, Double)] = {
    val out = Seq.newBuilder[(T, Double)]
    var (i, spent, last) = (0, 0.0, 0.0)
    while (i < 2 || spent + last / 2 < budgetS) {
      val (v, s) = step(i)
      out += v -> s
      spent += s; last = s; i += 1
    }
    out.result()
  }
}


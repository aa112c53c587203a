import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Jobs, shuffles and executed plan of registered queries.
  *
  * Each query runs twice into the `noop` sink (the Bench sink); the second
  * run is recorded: the Spark jobs it started (a listener keyed by a local
  * property set around the run, so the side jobs a query starts while it
  * is built — hot-key reads, checkpoints — count too), the stages of those
  * jobs that wrote shuffle records and the bytes they wrote, its wall
  * time, and the final (AQE) executed
  * plan of the sink write. Writes `<out>/<query>.txt` and prints one
  * summary line per query.
  *
  * Run from the repository root with the file copied under
  * `src/main/scala/`: `sbt "runMain LshPlanProbe <sfDir> <out> <query>..."`
  * (`local[4]`, shuffle partitions 4).
  */
object LshPlanProbe {
  def main(argv: Array[String]): Unit = {
    val Array(sfDir, outDir) = argv.take(2)
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val Prop = "probe.query"
    val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    val stageOwner = mutable.Map.empty[Int, String]
    val shuffles = mutable.Map.empty[String, Int].withDefaultValue(0)
    val shuffleBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        Option(e.properties.getProperty(Prop)).foreach { q =>
          jobs(q) += 1
          e.stageIds.foreach(stageOwner(_) = q)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        val w = Option(si.taskMetrics).map(_.shuffleWriteMetrics)
        if (w.exists(_.recordsWritten > 0)) stageOwner.get(si.stageId).foreach { q =>
          shuffles(q) += 1
          shuffleBytes(q) += w.get.bytesWritten
        }
      }
    })
    val plans = mutable.Map.empty[String, String]
    // query-execution events arrive on the listener bus thread, which
    // does not see the driver's local properties
    @volatile var current: String = null
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        // the sink write is the query's last action: keep the latest plan
        val q = current
        if (q != null) plans.synchronized(plans(q) = qe.executedPlan.toString)
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def count(text: String, re: String) = re.r.findAllIn(text).size
    argv.drop(2).foreach { name =>
      val fn = SparkEntry.queries(name)
      def once(tag: String): Double = {
        spark.sparkContext.setLocalProperty(Prop, tag)
        current = tag
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setLocalProperty(Prop, null)
        Thread.sleep(1500) // listener bus
        current = null
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        dt
      }
      once(name + "#warm")
      val secs = once(name)
      val plan = plans.getOrElse(name, "")
      val fin = plan.split("== Initial Plan ==").head
      val line = f"$name: ${jobs(name)} jobs, ${shuffles(name)} shuffle-writing stages " +
        s"(${shuffleBytes(name)} B), " +
        s"${count(fin, "\\bExchange ")} shuffle and ${count(fin, "BroadcastExchange ")} broadcast exchanges and " +
        s"${count(fin, "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)")} joins " +
        s"in the final plan, ${count(fin, "Scan ExistingRDD")} checkpoint scans, " +
        f"$secs%.3f s (second run, local[4])"
      Files.writeString(out.resolve(s"$name.txt"), line + "\n\nexecuted plan of the noop write:\n" + plan + "\n")
      println(s"[probe] $line")
    }
    spark.stop()
  }
}

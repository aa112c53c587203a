package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Jobs, exchanges and final plan of registered queries.
  *
  * For each named query: the Spark jobs started while its DataFrame is
  * built (its eager `localCheckpoint()`s and driver reads) and while it
  * is written to the `noop` sink, the shuffle, broadcast and reused
  * exchanges of the final (AQE) plan of that write, and the plan itself.
  * Writes `<out>/<query>.txt`.
  *
  * Copy into `src/main/scala/graft/` of a checkout and run
  * `sbt "runMain graft.PairGridPlanProbe <sfDir> <out> <query>..."`.
  */
object PairGridPlanProbe {
  def main(argv: Array[String]): Unit = {
    val Array(sfDir, out) = argv.take(2)
    Files.createDirectories(Paths.get(out))
    val spark = GraftSession("ERROR")
    val jobs = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    })
    @volatile var lastQe: QueryExecution = null
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = lastQe = qe
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    // job-start events reach listeners asynchronously
    def settle(): Unit = Thread.sleep(2000)
    argv.drop(2).foreach { q =>
      settle(); jobs.set(0)
      val df = SparkEntry.queries(q)(spark, sfDir)
      settle(); val buildJobs = jobs.getAndSet(0)
      df.write.format("noop").mode("overwrite").save()
      settle(); val writeJobs = jobs.get()
      val ns = nodes(lastQe.executedPlan)
      val shuffles = ns.count(_.isInstanceOf[ShuffleExchangeExec])
      val bcasts = ns.count(_.isInstanceOf[BroadcastExchangeExec])
      val reused = ns.count(_.isInstanceOf[ReusedExchangeExec])
      val head = s"$q: build-time jobs $buildJobs, write-time jobs $writeJobs, " +
        s"shuffle exchanges $shuffles, broadcast exchanges $bcasts, reused exchanges $reused"
      println(s"[probe] $head")
      Files.writeString(Paths.get(out, s"$q.txt"),
        s"$head\n\n${lastQe.executedPlan.treeString}")
    }
    spark.stop()
  }
}

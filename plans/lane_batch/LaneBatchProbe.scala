import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.streaming.Streaming
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener
import perfbench.{EnrichCounters, Lane, PostGen, Tracer, WireFile}

/** Jobs and executed plan of each sentiflow-lane micro-batch.
  *
  * Runs the benchmark's untraced lane body (`perfbench.Lane.batch`) over
  * three wire files of 500, 100 and 100 seeded posts, one file per
  * micro-batch, so batch 0 writes a missing sink table and batches 1 and 2
  * upsert into an existing one. Writes `<out>/batch<N>.txt`: the Spark jobs
  * the batch started (a listener keyed by a local property set around the
  * body) and the final executed plan of its sink write.
  *
  * Build against the benchmark's classpath (the `classpath` field of
  * `perfbench/target/perfbench-build.json`, written by `perfbench/run.py`)
  * and run as `LaneBatchProbe <out>` with the same `--add-opens` flags
  * `perfbench/run.py` passes to its JVM.
  */
object LaneBatchProbe {
  def main(argv: Array[String]): Unit = {
    val out = Paths.get(argv(0))
    Files.createDirectories(out)
    val work = Files.createTempDirectory("lane-probe")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val BatchProp = "probe.batch"
    val jobs = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val b = Option(e.properties.getProperty(BatchProp)).getOrElse("-")
        jobs.getOrElseUpdate(b, mutable.ArrayBuffer.empty) +=
          s"job ${e.jobId}: ${e.stageInfos.size} stage(s)"
      }
    })
    val writes = mutable.ArrayBuffer.empty[String]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        writes.synchronized(writes += qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    val in = work.resolve("in")
    Files.createDirectories(in)
    val recs = new PostGen(41).records(700)
    Seq(recs.take(500), recs.slice(500, 600), recs.slice(600, 700)).zipWithIndex
      .foreach { case (rs, i) => Lane.writeFile(in, WireFile(i, rs)) }
    val lane = new Lane(spark, new Tracer("probe", false, spark.sparkContext),
      EnrichCounters(spark))
    val sink = work.resolve("sink").toString
    val secs = mutable.Map.empty[Long, Double]
    Streaming.jsonFileSource(spark, in.toString, Lane.WireSchema, 1)
      .writeStream.option("checkpointLocation", work.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        spark.sparkContext.setLocalProperty(BatchProp, id.toString)
        val t0 = System.nanoTime()
        lane.batch(df, id, sink)
        secs(id) = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setLocalProperty(BatchProp, null)
      }
      .start().awaitTermination()
    Thread.sleep(2000) // listener bus
    def clean(s: String) = s.replace(work.toString, "<work>")
    secs.keys.toSeq.sorted.foreach { id =>
      val js = jobs.getOrElse(id.toString, mutable.ArrayBuffer.empty)
      val text = f"batch $id: ${js.size} jobs, ${secs(id)}%.3f s (one run, local[4])\n" +
        js.map("  " + _ + "\n").mkString + "\nexecuted plan of the sink write:\n" +
        clean(writes(id.toInt)) + "\n"
      Files.writeString(out.resolve(s"batch$id.txt"), text)
      println(text.linesIterator.take(1 + js.size).mkString("\n"))
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Per-job profile of the composed curate→cluster streaming lane — the
  * diagnostic behind the BASELINE.md streaming SLO row. StreamBench
  * reports the lane's one number; this main breaks it into the Spark
  * JOBS each micro-batch launches (the lane's cost at bench scale is
  * per-batch action count × fixed job latency, not data volume), so a
  * lane change can be judged by what it removed, not just the total.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StreamProfile"
  * Prints one line per job (start-relative seconds, duration, callsite)
  * and a per-description summary.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("ERROR")
    val S = graft.streaming.Streaming
    val root = java.nio.file.Files.createTempDirectory("graft_sprof_").toString

    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val nDocs = docs.count()
    docs.repartition(8).write.mode("overwrite").json(s"$root/docs")
    val evalDocs = docs.limit(0).localCheckpoint()

    final case class Job(id: Int, desc: String, start: Long, var end: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    // executionId → the SQL action's callsite: job-level descriptions are
    // blank inside foreachBatch, but every job carries its parent SQL
    // execution id and the execution-start event carries the callsite.
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            // description is blank in foreachBatch; the root plan node +
            // its write path (when present) identify the action
            val planHead = e.physicalPlanDescription.linesIterator
              .filterNot(l => l.isEmpty || l.startsWith("=="))
              .take(1).mkString.trim
            val d = (if (e.description.nonEmpty) e.description
              else planHead.replaceFirst("file:\\S*graft_sprof_[^/]*/", "…/")).take(140)
            execDesc.put(e.executionId, d)
          case _ =>
        }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execDesc.get(id.toLong)).map(d => s"ex$id $d"))
          .orElse(Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).filter(_.nonEmpty))
          .getOrElse {
            import scala.jdk.CollectionConverters._
            "? props=" + Option(e.properties).map(_.asScala.keys.mkString(","))
              .getOrElse("null")
          }
        jobs.put(e.jobId, Job(e.jobId, desc, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.currentTimeMillis()
    val q = S.curateAndClusterIngest(
      S.jsonFileSource(spark, s"$root/docs",
        StructType.fromDDL("doc_id BIGINT, source STRING, text STRING"),
        maxFilesPerTrigger = 2),
      evalDocs, s"$root/fp", s"$root/kept", s"$root/idx", s"$root/clusters",
      s"$root/cur_ckpt", trigger = Trigger.AvailableNow()).start()
    q.awaitTermination()
    val total = (System.currentTimeMillis() - t0) / 1000.0
    spark.sparkContext.removeSparkListener(listener)

    import scala.jdk.CollectionConverters._
    val js = jobs.values.asScala.toSeq.sortBy(_.id)
    println(f"== ${js.size} jobs over $total%.2f s (${(nDocs / total).toLong} docs/s, $nDocs docs)")
    js.foreach { j =>
      println(f"  [${j.id}%3d] +${(j.start - t0) / 1000.0}%6.2fs ${(j.end - j.start) / 1000.0}%6.3fs  ${j.desc.take(110)}")
    }
    println("== by description:")
    js.groupBy(_.desc.replaceFirst("^ex\\d+ ", "").take(60)).toSeq
      .map { case (d, g) => (d, g.size, g.map(j => j.end - j.start).sum / 1000.0) }
      .sortBy(-_._3)
      .foreach { case (d, n, s) => println(f"  $n%3d jobs $s%7.2fs  $d") }
    spark.stop()
  }
}

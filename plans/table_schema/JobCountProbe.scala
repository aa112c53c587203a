package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Build-time and write-time Spark jobs and seconds of registered queries.
  *
  * Each query runs twice into the `noop` sink; the second (warm) run is
  * recorded: the jobs started and the seconds spent while its DataFrame
  * is built (table opens, eager `localCheckpoint()`s, driver reads) and
  * while it is written. Jobs are counted per job group, so the count does
  * not depend on when the listener sees them. Cached data and persisted
  * RDDs are dropped after every run, as the `analytics_mix` benchmark
  * does; process-lifetime memos stay warm.
  *
  * Copy into `src/main/scala/graft/` of a checkout and run
  * `sbt "runMain graft.JobCountProbe <sfDir> <out.json> [query...]"`
  * (no query names: every registered query). Prints one JSON object and
  * writes it to `<out.json>`.
  */
object JobCountProbe {
  def main(argv: Array[String]): Unit = {
    val Array(sfDir, out) = argv.take(2)
    val spark = GraftSession("ERROR")
    val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          jobs.computeIfAbsent(g, _ => new AtomicInteger()).incrementAndGet()
        }
    })
    def phase[A](group: String)(body: => A): (A, Double) = {
      sc.setJobGroup(group, group)
      val t0 = System.nanoTime()
      try (body, (System.nanoTime() - t0) / 1e9) finally sc.clearJobGroup()
    }
    val names = if (argv.length > 2) argv.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val secs = names.map { q =>
      val fn = SparkEntry.queries(q)
      def run(tag: String): (Double, Double) =
        try {
          val (df, b) = phase(s"$q/$tag/build")(fn(spark, sfDir))
          val (_, w) = phase(s"$q/$tag/write")(df.write.format("noop").mode("overwrite").save())
          (b, w)
        } finally {
          spark.catalog.clearCache()
          sc.getPersistentRDDs.values.foreach(_.unpersist(true))
        }
      run("cold")
      q -> run("warm")
    }
    Thread.sleep(3000) // job-start events reach the listener asynchronously
    def n(g: String) = Option(jobs.get(g)).map(_.get).getOrElse(0)
    val rows = secs.map { case (q, (b, w)) => (q, n(s"$q/warm/build"), n(s"$q/warm/write"), b, w) }
    val build = rows.map(_._2).sorted
    val json = new StringBuilder
    json ++= s"""{"sf": "$sfDir", "cpus": ${GraftSession.cpus}, "queries": ${rows.size},\n"""
    json ++= s""" "build_jobs": ${build.sum}, "write_jobs": ${rows.map(_._3).sum},\n"""
    json ++= f""" "build_s": ${rows.map(_._4).sum}%.3f, "write_s": ${rows.map(_._5).sum}%.3f,\n"""
    json ++= s""" "median_build_jobs": ${build(build.size / 2)},\n "per_query": {\n"""
    json ++= rows.map { case (q, bj, wj, b, w) =>
      f"""  "$q": {"build_jobs": $bj, "write_jobs": $wj, "build_s": $b%.3f, "write_s": $w%.3f}"""
    }.mkString(",\n")
    json ++= "\n }}\n"
    Files.writeString(Paths.get(out), json.toString)
    print(json)
    spark.stop()
  }
}

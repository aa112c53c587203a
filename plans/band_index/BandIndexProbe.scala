import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.operators.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Spark jobs and band-index files of one call into the persistent LSH
  * band index, for each of its two probing entry points.
  *
  *  - `incrementalNearDup`: the second-batch fixture of
  *    IncrementalDedupSpec — batch 0 (docs 1, 2 near-dup pair, 3) is
  *    indexed, then batch 1 (doc 4 duplicating stored doc 1, novel doc 5)
  *    is recorded.
  *  - `mergeAndIndex`: MergeDppSpec's fixture — corpus 0 (docs 1, 2, 5)
  *    indexed with `indexBatch` and clustered with `clusterDocs`, then
  *    the merge of batch 1 (docs 10, 11) is recorded.
  *
  * For the recorded call it lists every Spark job started between its
  * first line and the collect of its result (the index write included),
  * and counts the parquet files it wrote under `bands/batch=1`; then it
  * times seven more calls of each shape and reports the median. Writes
  * `<out>` and prints it.
  *
  * Run from the repository root with the file copied under
  * `src/main/scala/`: `sbt "runMain BandIndexProbe <out>"` (`local[4]`,
  * shuffle partitions 4).
  */
object BandIndexProbe {
  def main(argv: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val jobs = mutable.ArrayBuffer.empty[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        // the result stage carries the job's call site
        jobs += e.stageInfos.maxBy(_.stageId).name
      }
    })
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    def record(name: String, idx: String)(call: => DataFrame): String = {
      Thread.sleep(1500) // listener bus
      val from = jobs.synchronized(jobs.size)
      val t0 = System.nanoTime()
      val rows = call.collect().length
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500)
      val seen = jobs.synchronized(jobs.drop(from).toList)
      val bandFiles = files(new java.io.File(s"$idx/bands/batch=1")).size
      f"$name: ${seen.size} jobs, $bandFiles band files under bands/batch=1, " +
        f"$rows rows, $secs%.3f s (one run, local[4])\n" +
        seen.zipWithIndex.map { case (c, i) => s"  job $i: $c" }.mkString("\n") + "\n"
    }
    def toks(from: Int, until: Int): String = (from until until).map(i => s"w$i").mkString(" ")
    val alpha = "the quick brown fox jumps over the lazy dog near the river bank today"
    val beta = "completely different content about spark distributed execution and shuffles"
    val gamma = "a third corpus entry mentioning catalyst optimizer rules and codegen stages"

    val incIdx = Files.createTempDirectory("band-probe-inc").toString
    Dedup.incrementalNearDup(Seq(1L -> alpha, 2L -> alpha, 3L -> beta).toDF("doc_id", "text"),
      incIdx, 0.7, 0L).collect()
    val inc = record("incrementalNearDup", incIdx) {
      Dedup.incrementalNearDup(Seq(4L -> alpha, 5L -> gamma).toDF("doc_id", "text"),
        incIdx, 0.7, 1L)
    }

    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text").withColumn("source", lit("src0"))
    val corpus0 = docs(Seq(1L -> toks(0, 40), 2L -> (toks(0, 40) + " extraA extraB"),
      5L -> toks(1000, 1040)))
    val mergeIdx = Files.createTempDirectory("band-probe-merge").toString
    Dedup.indexBatch(corpus0, mergeIdx, batchId = 0L)
    val clusters = Dedup.clusterDocs(corpus0).localCheckpoint()
    val merge = record("mergeAndIndex", mergeIdx) {
      Dedup.mergeAndIndex(clusters,
        docs(Seq(10L -> (toks(0, 40) + " extraC"), 11L -> toks(2000, 2040))), mergeIdx, 1L)
    }
    // steady-state wall time: the same call shape on later batch ids
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def secs(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    val incSecs = median((2 to 8).map { b =>
      secs(Dedup.incrementalNearDup(Seq((10L * b) -> alpha, (10L * b + 1) -> s"$gamma v$b")
        .toDF("doc_id", "text"), incIdx, 0.7, b.toLong).collect())
    })
    var clustersNow = clusters
    val mergeSecs = median((2 to 8).map { b =>
      secs {
        clustersNow = Dedup.mergeAndIndex(clustersNow, docs(Seq((100L * b) -> (toks(0, 40) + s" x$b"),
          (100L * b + 1) -> toks(3000 * b, 3000 * b + 40))), mergeIdx, b.toLong).localCheckpoint()
      }
    })
    val text = inc + "\n" + merge + "\n" +
      f"median of 7 later calls (batch ids 2-8): incrementalNearDup $incSecs%.3f s, " +
      f"mergeAndIndex $mergeSecs%.3f s\n"
    Files.writeString(Paths.get(argv(0)), text)
    print(text)
    spark.stop()
  }
}

package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the r12 dynamic-partition-pruned index probe that mergeCore and
  * incrementalNearDup share: the stored-bands scan must carry a dynamic
  * pruning subquery derived from the broadcast batch side (the
  * replacement for the static collected (band, kb) IN-list, which cost
  * one serial driver collect per micro-batch). If a planner change stops
  * DPP from firing, the probe silently degrades to a full index scan —
  * linear in the INDEX, not the batch, which at 100 TB is the difference
  * between reading a few pruned partitions and reading the corpus. This
  * spec makes that degradation a loud test failure instead, for both
  * callers.
  */
class MergeDppSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text").withColumn("source", lit("src0"))
  private def toks(from: Int, until: Int): String =
    (from until until).map(i => s"w$i").mkString(" ")
  private val corpus0 = docsDF(Seq(1L -> toks(0, 40), 2L -> (toks(0, 40) + " extraA extraB"),
    5L -> toks(1000, 1040)))
  private val batch1 = docsDF(Seq(10L -> (toks(0, 40) + " extraC"), 11L -> toks(2000, 2040)))

  /** Index corpus 0, run `probe` against that index, and assert that an
    * execution scanning the bands index carries a dynamic pruning
    * subquery. The probe executes inside the operator, so its plan is
    * observable only through the execution-start events. */
  private def assertProbePrunes(probe: String => Unit): Unit = {
    val idx = java.nio.file.Files.createTempDirectory("graft_dpp_").toString
    Dedup.indexBatch(corpus0, idx, batchId = 0L)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            plans.add(s.physicalPlanDescription); ()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      probe(idx)
      // listener events are delivered async; give the bus a moment
      var waited = 0
      while (plans.isEmpty && waited < 5000) { Thread.sleep(100); waited += 100 }
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val probePlans = plans.asScala.filter(p => p.contains("bands") && p.contains("Scan parquet"))
    assert(probePlans.nonEmpty, "no execution scanned the bands index — probe not exercised")
    assert(probePlans.exists(p => p.contains("dynamicpruning")),
      s"no dynamic pruning subquery on the bands scan; probe plan head:\n" +
        probePlans.map(_.linesIterator.take(25).mkString("\n")).mkString("\n----\n"))
  }

  test("the stored-index probe's executed plan prunes partitions dynamically from the broadcast batch") {
    assertProbePrunes { idx =>
      Dedup.mergeClusters(Dedup.clusterDocs(corpus0), batch1, idx).collect(); ()
    }
  }

  test("incrementalNearDup's stored-index probe prunes partitions dynamically too") {
    assertProbePrunes { idx =>
      val kept = Dedup.incrementalNearDup(batch1, idx, 0.7, 1L)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(11L), s"doc 10 near-dups stored doc 1; kept $kept")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Guards for dedup_eval_recall's panel-sampled truth side.
  *
  * The shipped eval measures recall over a fixed deterministic
  * [[Dedup.EvalPanelSize]]-doc panel so the truth computation is
  * panel × corpus (linear at any scale). These specs pin the property
  * that makes the sample trustworthy: the panel truth is EXACTLY the
  * all-pairs truth restricted to the panel — same join, same threshold,
  * same source scoping — never an approximation of it.
  */
class DedupEvalSpec extends SparkSpec {

  private def base = Tables(spark, Sf0001, "documents")
    .select(col("doc_id"), col("source"), Qh.toks(col("text")).as("tk"))

  test("the panel is deterministic, fixed-size, and hash-ordered") {
    val b = base
    val expectedSize = math.min(Dedup.EvalPanelSize.toLong, b.count())
    val p1 = Dedup.evalPanel(b).collect().map(_.getLong(0)).toSeq
    val p2 = Dedup.evalPanel(b).collect().map(_.getLong(0)).toSeq
    assert(p1.length.toLong == expectedSize, "panel must be exactly min(corpus, EvalPanelSize)")
    assert(p1 == p2, "panel selection must be deterministic across runs")
    // the panel is the min-hash prefix: no non-member may hash below a member
    val hashes = b.select(col("doc_id"),
        Qh.strHashWide(col("doc_id").cast("string")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val inPanel = p1.toSet
    val worstIn = hashes.filter(x => inPanel(x._1)).map(x => (x._2, x._1)).max
    val bestOut = hashes.filterNot(x => inPanel(x._1)).map(x => (x._2, x._1))
    assert(bestOut.isEmpty || Ordering[(Long, Long)].gt(bestOut.min, worstIn),
      "panel must be the (hash, doc_id)-smallest prefix of the corpus")
  }

  test("panel truth ≡ the exact all-pairs truth restricted to the panel") {
    val b = base.localCheckpoint()
    val panel = Dedup.evalPanel(b).localCheckpoint()
    val panelIds = panel.select("doc_id").collect().map(_.getLong(0)).toSet
    val panelTruth = Dedup.evalTruthDrop(b, panel)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val exactTruth = Dedup.evalTruthDrop(b, b)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(panelTruth == exactTruth.filter { case (_, d) => panelIds(d) },
      "panel-sampled truth must be the all-pairs truth restricted to the panel")
    assert(panelTruth.nonEmpty,
      "sf0.001 must exercise the panel truth non-trivially (planted near-dups)")
    assert(panelTruth != exactTruth,
      "the panel must actually subsample at this corpus size, or the spec is vacuous")
  }
}

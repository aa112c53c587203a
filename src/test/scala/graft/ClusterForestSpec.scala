package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Pins the r13 clusterDocs rewrite (the in-bucket verifier's spanning
  * forest, `Dedup.verifyInBucket` in forest mode, + the exact-dup collapse) against the definition it must preserve: connected
  * components of the FULL verified edge multiset
  * E = { (a,b) : same source, some band bucket contains both,
  *        round(J(tk_a, tk_b), 4) ≥ 0.8 }.
  *
  * The driver-gate oracle (DuckDB recursive CTE) proves this at the
  * registered-query level per gate run; this spec pins it PER COMMIT on a
  * corpus engineered to stress every reduction the rewrite makes:
  * exact-dup cliques (collapsed before any edge exists), near-dup chains
  * whose links live in DIFFERENT buckets (stitching is propagation's
  * job — a per-bucket forest must still close them), an exact-threshold
  * J = 0.8 pair, cross-source twins (must NOT merge), empty documents,
  * and an ambient-similar block (small vocabulary → dense true edge set,
  * the regime that made the pre-r13 shape quadratic).
  *
  * The reference is the PRE-r13 formulation itself — band self-join,
  * corpus-wide candidate distinct, token-set fetch joins, the genuine
  * [[Dedup.jaccard]] column — with the full edge list collected and
  * union-found in the test driver. Nothing is shared with the code under
  * test past the banding/tokenizing primitives both must agree on.
  */
class ClusterForestSpec extends SparkSpec {
  import spark.implicits._

  private def referenceClusters(docs: DataFrame): Map[Long, Long] = {
    val base = docs.select(col("doc_id"), col("source"),
      Dedup.tokHashes(col("text")).as("tk"))
    val sig = base.withColumn("mhs", Dedup.minhashSig(col("tk")))
    val banded = Dedup.bandExplode(sig, "mhs", Seq("source", "doc_id"))
    val cand = banded.select(col("source"), col("band"), col("bkey"), col("doc_id").as("a"))
      .join(banded.select(col("source"), col("band"), col("bkey"), col("doc_id").as("b")),
        Seq("source", "band", "bkey"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val tkOf = base.select(col("doc_id"), col("tk"))
    val edges = cand
      .join(tkOf.select(col("doc_id").as("a"), col("tk").as("ta")), Seq("a"))
      .join(tkOf.select(col("doc_id").as("b"), col("tk").as("tb")), Seq("b"))
      .filter(Dedup.jaccard(col("ta"), col("tb")) >= 0.8)
      .select("a", "b").as[(Long, Long)].collect()
    val ids = docs.select("doc_id").as[Long].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(d => d -> find(d)).toMap
  }

  private def plantedCorpus: DataFrame = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    var id = 0L
    def add(source: String, text: String): Long = { id += 1; rows += ((id, source, text)); id }

    // exact-dup clique chained to a near-dup: 5 byte-identical docs, one
    // of which links (via an appended token) to a second identical pair —
    // the collapse must substitute reps without losing the bridge
    val alpha = "mercury venus earth mars jupiter saturn uranus neptune pluto ceres eris"
    (1 to 5).foreach(_ => add("s0", alpha))
    val alphaPlus = alpha + " haumea"
    add("s0", alphaPlus); add("s0", alphaPlus)

    // chain whose links live in different buckets: each step appends one
    // token (J = 11/12, 12/13, ... ≥ 0.8) but the ends are dissimilar
    var chain = "red orange yellow green blue indigo violet cyan magenta umber ochre"
    (1 to 4).foreach { i => add("s1", chain); chain = chain + s" extra$i" }
    add("s1", chain)

    // exact-threshold pair: |A| = |B| = 9, |A∩B| = 8 → J = 8/10 = 0.8000
    add("s2", "t1 t2 t3 t4 t5 t6 t7 t8 onlyA")
    add("s2", "t1 t2 t3 t4 t5 t6 t7 t8 onlyB")

    // cross-source twins: identical text, different source — never merged
    add("s0", "solitary text shared across sources verbatim")
    add("s1", "solitary text shared across sources verbatim")

    // empty and whitespace-degenerate docs
    add("s0", ""); add("s1", "")

    // ambient-similar block: 120 docs over a 16-token vocabulary, token
    // choices hash-derived (deterministic, no RNG) — dense true edge set
    val vocab = Array("v0", "v1", "v2", "v3", "v4", "v5", "v6", "v7",
      "v8", "v9", "va", "vb", "vc", "vd", "ve", "vf")
    (0 until 120).foreach { i =>
      val len = 18 + (i * 7919) % 9
      val toks = (0 until len).map(j => vocab(((i * 31 + j * 17 + (i * j) % 13) % 16 + 16) % 16))
      add(s"s${i % 3}", toks.mkString(" "))
    }
    rows.toSeq.toDF("doc_id", "source", "text")
  }

  test("clusterDocs ≡ components of the full verified edge multiset (brute force)") {
    val docs = plantedCorpus.localCheckpoint(true)
    val expect = referenceClusters(docs)
    val got = Dedup.clusterDocs(docs)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == expect.keySet, "every doc labeled exactly once")
    val diff = expect.keys.filter(k => got(k) != expect(k)).toSeq.sorted
    assert(diff.isEmpty,
      s"cluster mismatch on docs $diff: got ${diff.map(got)}, expected ${diff.map(expect)}")
    // the planted structure actually materialized: the exact-dup clique +
    // its bridged pair share one cluster, the chain is transitive, the
    // threshold pair merged, cross-source twins did not
    assert((1L to 7L).map(got).distinct.size == 1, "exact-dup clique + bridge")
    assert((8L to 12L).map(got).distinct.size == 1, "cross-bucket chain closed")
    assert(got(13L) == got(14L), "J = 0.8000 sits ON the threshold and merges")
    assert(got(15L) != got(16L), "identical text, different source: separate")
  }

  // The hot-bucket split is shared by every in-bucket verify, so
  // clusterDocs gets it too: each slice-pair task emits a spanning forest
  // of the edges it decides. Forcing the threshold to 4 routes the
  // ambient block's buckets through the split; the clusters must not move.
  test("forced hot-bucket split leaves every cluster unchanged") {
    val docs = plantedCorpus.localCheckpoint(true)
    val maxBucket = Dedup.bandExplode(docs.select(col("source"), col("doc_id"),
          Dedup.minhashSig(Dedup.tokHashes(col("text"))).as("mhs")),
        "mhs", Seq("source", "doc_id"))
      .groupBy("source", "band", "bkey").count().agg(max("count")).as[Long].head()
    assert(maxBucket > 4, s"a bucket past the forced threshold (max $maxBucket)")
    val unsplit = Dedup.clusterDocs(docs).as[(Long, Long)].collect().toMap
    spark.conf.set("spark.graft.dedup.sliceThreshold", "4")
    spark.conf.set("spark.graft.dedup.bucketSlices", "3")
    try {
      val split = Dedup.clusterDocs(docs).as[(Long, Long)].collect().toMap
      val diff = unsplit.keys.filter(k => split.get(k) != unsplit.get(k)).toSeq.sorted
      assert(split.keySet == unsplit.keySet && diff.isEmpty,
        s"split clusters differ on docs $diff")
    } finally {
      spark.conf.unset("spark.graft.dedup.sliceThreshold")
      spark.conf.unset("spark.graft.dedup.bucketSlices")
    }
  }

  test("integer verification predicate ≡ JaccardSim rounding at every small size") {
    // the forest verifier decides edges by inter·100000 ≥ 79995·denom;
    // JaccardSim (and the DuckDB oracle) decide by round(inter/denom,4)
    // ≥ 0.8. Exhaustively equal for all set sizes ≤ 60 — includes every
    // boundary rational reachable in the planted and testdata corpora.
    import org.apache.spark.sql.catalyst.util.ArrayBasedMapData // touch catalyst pkg
    def arr(xs: Seq[Long]) =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(xs.toArray)
    val _ = ArrayBasedMapData // silence unused-import lint paths
    var checked = 0
    for (na <- 1 to 60; nb <- na to 60; inter <- 0 to na) {
      val a = arr((1L to inter.toLong) ++ (1000L until (1000L + na - inter)))
      val b = arr((1L to inter.toLong) ++ (2000L until (2000L + nb - inter)))
      val sim = graft.plans.JaccardSim.simLong(a, b)
      val denom = na.toLong + nb - inter
      val intPred = denom > 0L && inter * 100000L >= 79995L * denom
      val simPred = sim != null && sim.doubleValue() >= 0.8
      assert(intPred == simPred,
        s"na=$na nb=$nb inter=$inter: integer=$intPred jaccard=$sim")
      checked += 1
    }
    assert(checked > 30000)
  }
}

package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental cluster maintenance ([[Dedup.mergeClusters]]): an arriving
  * batch merges into a materialized cluster table via the persistent band
  * index — new members join clusters, bridging docs MERGE clusters, and
  * the result matches a full re-cluster exactly. */
class ClusterMergeSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text").withColumn("source", lit("src0"))

  private def clusterMap(df: DataFrame): Map[Long, Long] =
    df.select("doc_id", "cluster").as[(Long, Long)].collect().toMap

  // deterministic token vocab: x and y overlap at J=32/48≈0.667 (below the
  // 0.8 edge threshold → separate clusters); the bridge b = x ∪ y has
  // J(b,x)=J(b,y)=40/48≈0.833 (above it → merges both). The "w" prefix is
  // chosen so the MinHash BANDS of (b,x) AND (b,y) actually collide —
  // banding at J=0.83 is a ~98% event per pair, and the tokens are the
  // dice; verified by simulating the exact PolyHash+MinHash pipeline.
  private def toks(from: Int, until: Int): String =
    (from until until).map(i => s"w$i").mkString(" ")
  private val x = toks(0, 40)
  private val y = toks(8, 48)
  private val bridge = toks(0, 48)

  test("a bridging arrival merges two existing clusters through the affected micro-graph") {
    val corpus0 = docsDF(Seq(
      1L -> x, 2L -> (x + " extraA extraB"),            // cluster {1,2}
      3L -> y, 4L -> (y + " extraC extraD"),            // cluster {3,4}
      5L -> toks(1000, 1040)))                          // singleton
    val clusters0 = clusterMap(Dedup.clusterDocs(corpus0))
    assert(clusters0 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L),
      s"precondition: two 2-doc clusters + a singleton, got $clusters0")

    val idx = java.nio.file.Files.createTempDirectory("merge-idx-").toString
    Dedup.indexBatch(corpus0, idx, batchId = 0L)
    val batch = docsDF(Seq(10L -> bridge, 11L -> toks(2000, 2040)))
    val merged = clusterMap(Dedup.mergeClusters(clusters0.toSeq.toDF("doc_id", "cluster"), batch, idx))
    assert(merged == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, // clusters {1,2} and {3,4} merged via 10
      10L -> 1L,                              // the bridge joins the merged component
      5L -> 5L, 11L -> 11L),                  // untouched singleton + new singleton
      s"merge result: $merged")
  }

  test("re-merging an already-delivered batch is a no-op (at-least-once replay safety)") {
    val corpus0 = docsDF(Seq(1L -> x, 2L -> (x + " extraA extraB"), 5L -> toks(1000, 1040)))
    val idx = java.nio.file.Files.createTempDirectory("merge-replay-").toString
    Dedup.indexBatch(corpus0, idx, batchId = 0L)
    val clusters0 = Dedup.clusterDocs(corpus0)
    val batch = docsDF(Seq(10L -> bridge))
    val once = clusterMap(Dedup.mergeClusters(clusters0, batch, idx))
    val merged1 = once.toSeq.toDF("doc_id", "cluster")
    val twice = Dedup.mergeClusters(merged1, batch, idx)
    assert(twice.count() == once.size, "replay must not duplicate rows")
    assert(clusterMap(twice) == once, "replay must not change any assignment")
  }

  test("streaming clusterIngest maintains the cluster table across micro-batches ≡ batch closure") {
    import graft.streaming.Streaming
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_cling_").toFile.getAbsolutePath
    val ms = MemoryStream[CorpusDoc](spark)
    def runOnce(): Unit = {
      val q = Streaming.batchLane(ms.toDF().withColumn("source", lit("src0")),
          s"$root/ckpt", Trigger.AvailableNow())(
        Streaming.clusterBatch(_, s"$root/index", s"$root/clusters", _)).start()
      q.awaitTermination()
    }
    // batch 0: two near-dup pairs + a singleton; batch 1: a doc that
    // bridges the two clusters, plus a novel singleton
    val b0 = Seq(CorpusDoc(1L, x), CorpusDoc(2L, x + " extraA extraB"),
      CorpusDoc(3L, y), CorpusDoc(4L, y + " extraC extraD"), CorpusDoc(5L, toks(1000, 1040)))
    val b1 = Seq(CorpusDoc(10L, bridge), CorpusDoc(11L, toks(2000, 2040)))
    ms.addData(b0); runOnce()
    ms.addData(b1); runOnce()
    val streamed = clusterMap(Streaming.latestClusterSnapshot(spark, s"$root/clusters").get)
    val full = clusterMap(Dedup.clusterDocs(docsDF(
      (b0 ++ b1).map(d => d.doc_id -> d.text))))
    assert(streamed == full, s"streamed $streamed vs batch $full")
    assert(streamed(10L) == 1L && streamed(3L) == 1L, "bridge must merge the two clusters")
  }

  test("mergeClusters plan: no cartesian/BNLJ anywhere; the corpus relabel pass broadcasts") {
    // mergeClusters is a library function, not a registered query — the
    // OperatorSpec cartesian gate never sees it, so gate its plan here.
    val corpus0 = docsDF(Seq(1L -> x, 2L -> (x + " extraA extraB"), 5L -> toks(1000, 1040)))
    val idx = java.nio.file.Files.createTempDirectory("merge-plan-").toString
    Dedup.indexBatch(corpus0, idx, batchId = 0L)
    val merged = Dedup.mergeClusters(Dedup.clusterDocs(corpus0), docsDF(Seq(10L -> bridge)), idx)
    val plan = merged.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in merge plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in merge plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "the bounded relabel map must broadcast")
  }

  test("compactIndex collapses per-batch dirs into batch=-1 and preserves probe results") {
    val corpus0 = docsDF(Seq(1L -> x, 2L -> (x + " extraA extraB"), 5L -> toks(1000, 1040)))
    val corpus1 = docsDF(Seq(3L -> y, 4L -> (y + " extraC extraD")))
    val idx = java.nio.file.Files.createTempDirectory("graft_cmp_").toString
    Dedup.indexBatch(corpus0, idx, batchId = 0L)
    Dedup.indexBatch(corpus1, idx, batchId = 1L)
    val clusters0 = Dedup.clusterDocs(corpus0.union(corpus1)).localCheckpoint(true)
    val probe = docsDF(Seq(10L -> bridge, 11L -> toks(2000, 2040)))
    val before = clusterMap(Dedup.mergeClusters(clusters0, probe, idx))
    Dedup.compactIndex(spark, idx)
    val after = clusterMap(Dedup.mergeClusters(clusters0, probe, idx))
    assert(after == before, "probe decisions must be unchanged by compaction")
    val batchDirs = new java.io.File(s"$idx/bands").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(batchDirs == Seq("batch=-1"), s"expected one compacted partition, got $batchDirs")
    assert(!new java.io.File(s"$idx/bands.old").exists(), "old tree must be cleaned up")
  }

  test("in-stream compaction cadence: identical clusters, collapsed dirs, replay-idempotent") {
    import graft.streaming.Streaming
    // Three clusterBatch micro-batches; with compactEvery=2, batch 2
    // first compacts committed batches {0, 1} into the batch=-1 gen
    // (excludeBatch=2 — nothing to exclude on the clean path) and then
    // merges. The final cluster table must equal the no-compaction run,
    // and replaying batch 2 (compaction re-runs over the gen) must be
    // idempotent.
    val b0 = docsDF(Seq(1L -> x, 2L -> (x + " extraA extraB")))
    val b1 = docsDF(Seq(3L -> y, 4L -> toks(1000, 1040)))
    val b2 = docsDF(Seq(10L -> bridge, 11L -> (y + " extraC")))
    def run(root: String, every: Int): Map[Long, Long] = {
      Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
        Streaming.clusterBatch(b, s"$root/idx", s"$root/cl", i.toLong, compactEvery = every)
      }
      clusterMap(Streaming.latestClusterSnapshot(spark, s"$root/cl").get)
    }
    val rootA = java.nio.file.Files.createTempDirectory("graft_cadence_off_").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft_cadence_on_").toString
    val off = run(rootA, 0)
    val on = run(rootB, 2)
    assert(on == off, s"compaction cadence changed cluster results: on=$on off=$off")
    val dirs = new java.io.File(s"$rootB/idx/bands").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq.sorted
    assert(dirs == Seq("batch=-1", "batch=2"), s"expected gen + current batch, got $dirs")
    // replay batch 2: compaction re-runs over the gen, merge rewrites
    Streaming.clusterBatch(b2, s"$rootB/idx", s"$rootB/cl", 2L, compactEvery = 2)
    assert(clusterMap(Streaming.latestClusterSnapshot(spark, s"$rootB/cl").get) == off,
      "replay after compaction diverged")
  }

  test("crash AFTER the compacted gen is written, BEFORE any rename: reads stay live, a re-run completes and cleans up") {
    // Interrupt point 1 of the swap protocol (r11 VERDICT item 5): the
    // `.new` tree exists (complete or partial — recovery never reads it,
    // which is exactly the property under test) while the live dirs are
    // untouched. Reads must keep serving the live tree, and a re-run
    // must discard the leftover `.new` and compact from the live dirs.
    val corpus0 = docsDF(Seq(1L -> x, 2L -> (x + " extraA extraB"), 5L -> toks(1000, 1040)))
    val idx = java.nio.file.Files.createTempDirectory("graft_crash_prerename_").toString
    Dedup.indexBatch(corpus0, idx, batchId = 0L)
    val clusters0 = Dedup.clusterDocs(corpus0).localCheckpoint(true)
    val probe = docsDF(Seq(10L -> bridge))
    val expected = clusterMap(Dedup.mergeClusters(clusters0, probe, idx))
    Seq("bands", "sigs").foreach { sub =>
      val neu = new java.io.File(s"$idx/$sub.new/batch=-1")
      assert(neu.mkdirs())
      java.nio.file.Files.write(neu.toPath.resolve("part-stale.parquet"),
        "not a parquet file".getBytes)
    }
    // pre-recovery reads are NOT degraded: the live tree is intact
    assert(clusterMap(Dedup.mergeClusters(clusters0, probe, idx)) == expected,
      "a pre-rename crash must leave reads serving the intact live tree")
    Dedup.compactIndex(spark, idx) // discards stale .new, compacts live dirs
    assert(clusterMap(Dedup.mergeClusters(clusters0, probe, idx)) == expected,
      "post-recovery probe must match the pre-crash decision")
    Seq("bands.new", "sigs.new", "bands.old", "sigs.old").foreach { d =>
      assert(!new java.io.File(s"$idx/$d").exists(), s"$d must be cleaned up")
    }
    val dirs = new java.io.File(s"$idx/bands").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(dirs == Seq("batch=-1"), s"expected one compacted partition, got $dirs")
  }

  test("crash BETWEEN the two renames (.old aside, .new present, live gone): reads refuse, a re-run rolls back") {
    // Interrupt point 2: cur was moved to `.old` but `.new` was never
    // activated. Reads must refuse LOUDLY (an empty read would keep
    // every near-dup), and a re-run must roll the original back —
    // ignoring the orphaned `.new`, whose content is immaterial to
    // recovery — then compact.
    val corpus0 = docsDF(Seq(1L -> x, 2L -> (x + " extraA extraB"), 5L -> toks(1000, 1040)))
    val idx = java.nio.file.Files.createTempDirectory("graft_crash_midrename_").toString
    Dedup.indexBatch(corpus0, idx, batchId = 0L)
    val clusters0 = Dedup.clusterDocs(corpus0).localCheckpoint(true)
    val probe = docsDF(Seq(10L -> bridge))
    val expected = clusterMap(Dedup.mergeClusters(clusters0, probe, idx))
    Seq("bands", "sigs").foreach { sub =>
      assert(new java.io.File(s"$idx/$sub").renameTo(new java.io.File(s"$idx/$sub.old")))
      val neu = new java.io.File(s"$idx/$sub.new/batch=-1")
      assert(neu.mkdirs())
      java.nio.file.Files.write(neu.toPath.resolve("part-candidate.parquet"),
        "would-be gen".getBytes)
    }
    val e = intercept[IllegalStateException] { Dedup.mergeClusters(clusters0, probe, idx) }
    assert(e.getMessage.contains("compactIndex"), "mid-swap index must not read as empty")
    Dedup.compactIndex(spark, idx) // rolls .old back, discards .new, compacts
    assert(clusterMap(Dedup.mergeClusters(clusters0, probe, idx)) == expected,
      "post-recovery probe must match the pre-crash decision")
    Seq("bands.new", "sigs.new", "bands.old", "sigs.old").foreach { d =>
      assert(!new java.io.File(s"$idx/$d").exists(), s"$d must be cleaned up")
    }
  }

  test("interrupted compaction reads loudly and a compactIndex re-run recovers the index") {
    val corpus0 = docsDF(Seq(1L -> x, 2L -> (x + " extraA extraB"), 5L -> toks(1000, 1040)))
    val idx = java.nio.file.Files.createTempDirectory("graft_crash_").toString
    Dedup.indexBatch(corpus0, idx, batchId = 0L)
    val clusters0 = Dedup.clusterDocs(corpus0).localCheckpoint(true)
    val probe = docsDF(Seq(10L -> bridge))
    val expected = clusterMap(Dedup.mergeClusters(clusters0, probe, idx))
    // simulate a crash between compactIndex's two renames: live dir gone,
    // .old left behind
    assert(new java.io.File(s"$idx/bands").renameTo(new java.io.File(s"$idx/bands.old")))
    val e = intercept[IllegalStateException] { Dedup.mergeClusters(clusters0, probe, idx) }
    assert(e.getMessage.contains("compactIndex"), "mid-swap index must not read as empty")
    Dedup.compactIndex(spark, idx) // rolls the original back, then compacts
    assert(clusterMap(Dedup.mergeClusters(clusters0, probe, idx)) == expected,
      "post-recovery probe must match the pre-crash decision")
  }

  test("multi-source: merge ≡ full closure; a cross-source near-dup pair must NOT merge") {
    // Identical text planted in BOTH sources: bands collide for the pair
    // (same signature), so only source scoping keeps them apart — exactly
    // the silent cross-source merge the source-agnostic index produced.
    val corpus0 = Seq((1L, x, "src0"), (2L, x + " extraA extraB", "src0"),
      (20L, x, "src1")).toDF("doc_id", "text", "source")
    val clusters0 = Dedup.clusterDocs(corpus0)
    assert(clusterMap(clusters0) == Map(1L -> 1L, 2L -> 1L, 20L -> 20L),
      "precondition: identical text across sources must not pre-merge")
    val idx = java.nio.file.Files.createTempDirectory("merge-msrc-").toString
    Dedup.indexBatch(corpus0, idx, batchId = 0L)
    // The arrival near-dups BOTH sources' texts; it may only join src1's.
    val batch = Seq((10L, x + " extraA extraB", "src1")).toDF("doc_id", "text", "source")
    val merged = clusterMap(Dedup.mergeClusters(clusters0, batch, idx))
    val full = clusterMap(Dedup.clusterDocs(corpus0.unionByName(batch)))
    assert(merged == full, s"merge $merged must equal full closure $full")
    assert(merged(10L) == 10L && merged(20L) == 10L && merged(1L) == 1L && merged(2L) == 1L,
      s"10 must merge with 20 (src1) and never with {1,2} (src0): $merged")
  }

  test("duplicate doc_id rows WITHIN one batch collapse to a single output row") {
    val corpus0 = docsDF(Seq(1L -> x, 5L -> toks(1000, 1040)))
    val idx = java.nio.file.Files.createTempDirectory("merge-dupb-").toString
    Dedup.indexBatch(corpus0, idx, batchId = 0L)
    // at-least-once delivery duplicates doc 10 inside the same micro-batch
    val batch = docsDF(Seq(10L -> bridge, 10L -> bridge, 11L -> toks(2000, 2040)))
    val merged = Dedup.mergeClusters(Dedup.clusterDocs(corpus0), batch, idx)
    val perId = merged.groupBy("doc_id").count().filter(col("count") > 1).collect()
    assert(perId.isEmpty, s"duplicated batch rows leaked into the table: ${perId.mkString}")
    assert(merged.count() == 4, "corpus {1,5} + batch {10,11} = 4 rows")
  }

  test("an old-format index (bands without `source`) reads loudly, not as NULL-source rows") {
    // Hand-write a pre-source-column bands tree: Spark would fill the
    // missing column with NULLs and every source-scoped probe would miss
    // the whole stored corpus — the read must refuse instead.
    val idx = java.nio.file.Files.createTempDirectory("merge-oldfmt-").toString
    Seq(("k0", 1L, 0, 0)).toDF("bkey", "doc_id", "band", "kb")
      .write.partitionBy("band", "kb").parquet(s"$idx/bands/batch=0")
    Seq((1L, Seq(1L, 2L))).toDF("doc_id", "tk")
      .write.parquet(s"$idx/sigs/batch=0")
    val e = intercept[IllegalStateException] {
      Dedup.mergeClusters(Seq.empty[(Long, Long)].toDF("doc_id", "cluster"),
        docsDF(Seq(10L -> bridge)), idx).collect()
    }
    assert(e.getMessage.contains("source"), s"must name the missing column: ${e.getMessage}")
  }

  test("mergeClusters ≡ full re-cluster on a single-source real corpus slice") {
    val all = Tables(spark, Sf0001, "documents")
      .filter(col("source") === "src0").select("doc_id", "text", "source")
    val ids = all.select("doc_id").as[Long].collect().sorted
    val batchIds = ids.takeRight(8).toSet
    val corpus0 = all.filter(!col("doc_id").isin(batchIds.toSeq: _*))
    val batch = all.filter(col("doc_id").isin(batchIds.toSeq: _*))
    val idx = java.nio.file.Files.createTempDirectory("merge-eq-").toString
    Dedup.indexBatch(corpus0, idx, batchId = 0L)
    val merged = clusterMap(
      Dedup.mergeClusters(Dedup.clusterDocs(corpus0), batch, idx))
    val full = clusterMap(Dedup.clusterDocs(all))
    assert(merged == full,
      "incremental merge must equal the full closure: " +
        s"diff=${(merged.toSet diff full.toSet) ++ (full.toSet diff merged.toSet)}")
  }
}

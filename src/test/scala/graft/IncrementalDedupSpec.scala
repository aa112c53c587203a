package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.operators.Dedup
import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Top-level so Spark can derive an Encoder without an outer pointer. */
case class Doc(doc_id: Long, text: String, ts: Timestamp)

/** Incremental near-dup dedup: arriving docs probed against the
  * persistent LSH band index (never re-clustering the kept corpus). */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def t(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")

  // Exact-duplicate token sets collide in every band (no LSH recall
  // uncertainty in the test); `unique N` docs share no tokens with anyone.
  private val alpha = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val beta = "completely different content about spark distributed execution and shuffles"

  test("cross-batch and in-batch near-dups drop; novel docs pass; replay is idempotent") {
    val root = Files.createTempDirectory("graft_inc_").toFile.getAbsolutePath
    val index = s"$root/index"

    // batch 0: doc 1 and its in-batch dup doc 2; novel doc 3
    val b0 = Seq(Doc(1, alpha, t(1)), Doc(2, alpha, t(2)), Doc(3, beta, t(3))).toDF()
    val kept0 = Dedup.incrementalNearDup(b0, index, 0.7, 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept0 == Set(1L, 3L), s"batch 0 kept $kept0")

    // batch 1: doc 4 dups the STORED doc 1; doc 5 is novel
    val gamma = "a third corpus entry mentioning catalyst optimizer rules and codegen stages"
    val b1 = Seq(Doc(4, alpha, t(10)), Doc(5, gamma, t(11))).toDF()
    val kept1 = Dedup.incrementalNearDup(b1, index, 0.7, 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept1 == Set(5L), s"batch 1 kept $kept1")

    // replaying batch 1 (checkpoint recovery) rewrites batch=1 in place:
    // same kept set, and the index holds each doc's signature exactly once
    val keptReplay = Dedup.incrementalNearDup(b1, index, 0.7, 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(keptReplay == kept1, s"replay kept $keptReplay")
    val sigIds = spark.read.parquet(s"$index/sigs").select("doc_id").as[Long].collect().toSeq
    assert(sigIds.sorted == Seq(1L, 3L, 5L), s"index sigs $sigIds")
  }

  test("a doc re-delivered in a LATER batch drops against its own stored copy") {
    // at-least-once sources re-send; cross-run dedup (reference T7) must
    // treat the re-delivery as a duplicate of the stored copy even though
    // doc_id is identical
    val root = Files.createTempDirectory("graft_redeliver_").toFile.getAbsolutePath
    val b0 = Seq(Doc(1, alpha, t(1))).toDF()
    assert(Dedup.incrementalNearDup(b0, s"$root/index", 0.7, 0L).count() == 1)
    val b1 = Seq(Doc(1, alpha, t(10)), Doc(2, beta, t(11))).toDF()
    val kept1 = Dedup.incrementalNearDup(b1, s"$root/index", 0.7, 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept1 == Set(2L), s"batch 1 kept $kept1 — redelivered doc 1 must drop")
  }

  test("replay keeps a similar pair that survived the keep-first pass (no self-index probing)") {
    // The hazard: B ~ C (>= threshold) share a band whose bucket min is a
    // DISSIMILAR doc M — keep-first verifies B and C only against M, so
    // both are kept and indexed. A replayed batch that probed its own
    // indexed rows would then drop B against stored C AND C against
    // stored B, losing both. Search deterministically (pure-JVM kernels)
    // for such a triple: every band where B and C collide must also
    // contain M.
    import graft.plans.{MinHashSig, TokHashes, JaccardSim}
    def bands(text: String): IndexedSeq[(Long, Long)] = {
      val s = MinHashSig.signature(TokHashes.hashes(text, distinct = true)).toLongArray()
      (0 until Dedup.Bands).map(j => (s(2 * j), s(2 * j + 1)))
    }
    // Search over deterministic pseudo-random corpora: vary the base set
    // too — a fixed base can structurally block the configuration (e.g.
    // when no band's argmin tokens are among M's shared tokens).
    val found = (for {
      seed <- (0 until 300).iterator
      rnd = new scala.util.Random(seed)
      ws = IndexedSeq.fill(60)((0 until (6 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
      base = ws.take(10)
      bTxt = base.mkString(" ")
      bB = bands(bTxt)
      i <- (0 until 20).iterator
      cTxt = (base.take(9) :+ ws(10 + i)).mkString(" ")
      bC = bands(cTxt)
      shared = (0 until Dedup.Bands).filter(j => bB(j) == bC(j))
      if shared.nonEmpty
      k <- (0 until 30).iterator
      mTxt = (base.take(2) ++ (0 until 8).map(x => ws(30 + (k + x) % 30) + s"x$k")).mkString(" ")
      bM = bands(mTxt)
      if shared.forall(j => bM(j) == bB(j))
    } yield (bTxt, cTxt, mTxt)).take(1).toList.headOption
    assert(found.nonEmpty, "no B/C/M triple found — widen the search space")
    val (bTxt, cTxt, mTxt) = found.get
    def jac(x: String, y: String): Double = JaccardSim.simLong(
      TokHashes.hashes(x, distinct = true), TokHashes.hashes(y, distinct = true)).doubleValue()
    assert(jac(bTxt, cTxt) >= 0.7 && jac(mTxt, bTxt) < 0.7 && jac(mTxt, cTxt) < 0.7)

    val root = Files.createTempDirectory("graft_rep_").toFile.getAbsolutePath
    val batch = Seq(Doc(1, mTxt, t(1)), Doc(2, bTxt, t(2)), Doc(3, cTxt, t(3))).toDF()
    val kept0 = Dedup.incrementalNearDup(batch, s"$root/index", 0.7, 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept0 == Set(1L, 2L, 3L), s"first run kept $kept0")
    val keptReplay = Dedup.incrementalNearDup(batch, s"$root/index", 0.7, 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(keptReplay == kept0, s"replay kept $keptReplay — self-index probing regressed")
  }

  test("clusterDocs with a reliable checkpoint dir matches localCheckpoint results") {
    // On a real cluster localCheckpoint blocks die with a lost executor,
    // killing the iterative CC lineage; checkpointDir switches rounds to
    // reliable df.checkpoint() files. Results must be identical.
    // The clique members are NEAR-dups, not byte-identical: since r13 the
    // exact-dup collapse resolves identical token sets before any edge
    // exists, and an edge-free graph would let this test green without
    // ever exercising the reliable-checkpoint propagation rounds it pins.
    val docs = Seq(
      (1L, "s", alpha), (2L, "s", alpha + " tonight"), (3L, "s", alpha + " again"),
      (4L, "s", beta), (5L, "s", "another entirely unrelated body of text here")
    ).toDF("doc_id", "source", "text")
    val local = Dedup.clusterDocs(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ckDir = Files.createTempDirectory("graft_ck_").toFile
    val reliable = Dedup.clusterDocs(docs, Some(ckDir.getAbsolutePath))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(reliable == local, s"reliable=$reliable local=$local")
    assert(local.toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    assert(files(ckDir).nonEmpty, "reliable checkpoint must write files under checkpointDir")
  }

  test("bands index is partitioned by (band, kb) under batch=N") {
    // (the probe's partition pruning is dynamic and pinned by MergeDppSpec)
    val root = Files.createTempDirectory("graft_prune_").toFile.getAbsolutePath
    val index = s"$root/index"
    val b0 = Seq(Doc(1, alpha, t(1)), Doc(3, beta, t(3))).toDF()
    Dedup.incrementalNearDup(b0, index, 0.7, 0L).count()

    // physical layout: bands/batch=0/band=B/kb=K/
    val batchDir = new java.io.File(s"$index/bands/batch=0")
    val bandDirs = batchDir.listFiles().filter(_.isDirectory).toSeq
    assert(bandDirs.nonEmpty && bandDirs.forall(_.getName.startsWith("band=")),
      s"expected band= partition dirs, got ${bandDirs.map(_.getName)}")
    assert(bandDirs.forall(_.listFiles().filter(_.isDirectory)
      .forall(_.getName.startsWith("kb="))), "expected kb= subdirs under band=")
  }

  test("curation e2e: streamed near-dup ingest feeds the registered curation queries") {
    // the full training-data shape: arrive → near-dup drop → kept corpus
    // → quality score / stratified sample / shard-pack via the SAME
    // registered operators the oracle gate checks
    val root = Files.createTempDirectory("graft_cur_").toFile.getAbsolutePath
    val texts = (0 until 30).map(i => s"document number $i with content token$i filler words here")
    val docs = texts.zipWithIndex.map { case (txt, i) => Doc(i.toLong, txt, t(i % 50)) } ++
      Seq(Doc(100, texts(0), t(40)), Doc(101, texts(1), t(41))) // exact near-dups
    val b = docs.toDF()
    val kept = graft.operators.Dedup.incrementalNearDup(b, s"$root/index", 0.7, 0L)
    assert(kept.count() == 30, "near-dups must drop, originals kept")
    kept.withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .select("doc_id", "source", "lang", "text")
      .write.mode("overwrite").parquet(s"$root/corpus/documents.parquet")
    val quality = SparkEntry.queries("text_quality")(spark, s"$root/corpus")
    assert(quality.count() == 30)
    val sampled = SparkEntry.queries("sample_stratified")(spark, s"$root/corpus")
    assert(sampled.count() > 0 && sampled.count() < 30)
    val shards = SparkEntry.queries("shard_pack_exact")(spark, s"$root/corpus")
    assert(shards.count() == 30)
    assert(shards.groupBy("shard").agg(sum("ntok").as("tot"))
      .filter(col("tot") > 2000).count() == 0)
  }

  test("streaming nearDupIngest dedups across micro-batches through the sink") {
    val root = Files.createTempDirectory("graft_incs_").toFile.getAbsolutePath
    val ms = MemoryStream[Doc](spark)
    // two adds → two micro-batches under AvailableNow
    ms.addData(Seq(Doc(1, alpha, t(1)), Doc(2, beta, t(2))))
    val q1 = Streaming.batchLane(ms.toDF(), s"$root/ckpt", Trigger.AvailableNow())(
      Streaming.nearDupBatch(_, s"$root/index", s"$root/kept", _)).start()
    q1.awaitTermination()
    ms.addData(Seq(Doc(3, alpha, t(10)), Doc(4, "entirely novel narrative about watermarks and state stores", t(11))))
    val q2 = Streaming.batchLane(ms.toDF(), s"$root/ckpt", Trigger.AvailableNow())(
      Streaming.nearDupBatch(_, s"$root/index", s"$root/kept", _)).start()
    q2.awaitTermination()
    val kept = spark.read.parquet(s"$root/kept").select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(1L, 2L, 4L), s"kept $kept")
  }
}

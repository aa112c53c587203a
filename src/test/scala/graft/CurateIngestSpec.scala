package graft

import java.nio.file.Files

import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Top-level for Encoder derivation (see [[Doc]]). */
case class CDoc(doc_id: Long, source: String, text: String)

/** Streaming curation gate ([[Streaming.curateBatch]] on
  * [[Streaming.batchLane]]):
  * decontamination + exact canonicalization + quality, replay-idempotent,
  * equivalent to the batch corpus_manifest verdict on the same corpus. */
class CurateIngestSpec extends SparkSpec {
  import spark.implicits._

  test("single-pass streaming curation ≡ the batch manifest's canonical ∧ quality ∧ ¬contaminated verdict") {
    val root = Files.createTempDirectory("graft_curate_").toFile.getAbsolutePath
    val docs = Tables(spark, Sf0001, "documents")
    val evalDocs = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("source"), col("text"))

    val ms = MemoryStream[CDoc](spark)
    ms.addData(corpus.as[CDoc].collect().toSeq)
    val eval = Streaming.evalArtifacts(evalDocs) // once per stream
    val q = Streaming.batchLane(ms.toDF(), s"$root/ckpt", Trigger.AvailableNow())(
      Streaming.curateBatch(_, eval, s"$root/fp", s"$root/kept", _)).start()
    q.awaitTermination()
    val streamKept = spark.read.parquet(s"$root/kept")
      .select("doc_id").as[Long].collect().toSeq.sorted

    val manifestKept = SparkEntry.queries("corpus_manifest")(spark, Sf0001)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSeq.sorted
    assert(streamKept == manifestKept,
      s"stream kept ${streamKept.size} vs manifest ${manifestKept.size}; " +
        s"diff ${(streamKept.toSet -- manifestKept.toSet).take(5)} / " +
        s"${(manifestKept.toSet -- streamKept.toSet).take(5)}")
  }

  test("cross-batch canonicalization, contaminated-doc fp retention, and replay idempotence") {
    val root = Files.createTempDirectory("graft_curate2_").toFile.getAbsolutePath
    val good = "a perfectly reasonable document with plenty of distinct informative tokens " +
      "covering spark catalyst tungsten shuffles partitions and adaptive execution"
    val evalText = "benchmark evaluation passage that must never leak into training data ever"
    val evalDocs = Seq((9000L, "s", evalText)).toDF("doc_id", "source", "text")

    val ms = MemoryStream[CDoc](spark)
    // batch 0: a good doc, an eval-overlapping doc, a low-quality doc
    // (one token repeated — fails the Gopher top-token gate), and an
    // EXACT eval duplicate (same source+text as the eval doc — must be
    // dropped by the seeded fingerprint gate, and must NOT claim a store
    // fingerprint of its own: the eval set is the permanent claim)
    ms.addData(Seq(
      CDoc(1, "s", good),
      CDoc(2, "s", evalText + " plus some extra trailing context"),
      CDoc(3, "s", Seq.fill(40)("spam").mkString(" ")),
      CDoc(4, "s", evalText)))
    val eval = Streaming.evalArtifacts(evalDocs) // once per stream
    val start = () => Streaming.batchLane(ms.toDF(), s"$root/ckpt", Trigger.AvailableNow())(
      Streaming.curateBatch(_, eval, s"$root/fp", s"$root/kept", _)).start()
    val q0 = start(); q0.awaitTermination()
    val kept0 = spark.read.parquet(s"$root/kept").select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept0 == Seq(1L), s"batch 0 kept $kept0")
    val fps0 = spark.read.parquet(s"$root/fp").count()
    assert(fps0 == 3L, s"store holds the 3 non-eval fingerprints (seed is the eval claim), got $fps0")

    // batch 1: exact duplicates of the batch-0 docs (higher ids) plus
    // one novel doc — only the novel doc may pass: the good doc's dup
    // dedups against the store, the contaminated/low-quality docs'
    // dups must find their RETAINED fingerprints (kept-or-not, fps
    // persist), and the eval dup's dup must hit the eval SEED (doc 4
    // wrote no store fingerprint, so only the seed can stop doc 15)
    ms.addData(Seq(
      CDoc(11, "s", good),
      CDoc(12, "s", evalText + " plus some extra trailing context"),
      CDoc(13, "s", Seq.fill(40)("spam").mkString(" ")),
      CDoc(14, "s", "an entirely novel narrative mentioning watermarks checkpoints and state stores"),
      CDoc(15, "s", evalText)))
    val q1 = start(); q1.awaitTermination()
    val keptAll = spark.read.parquet(s"$root/kept").select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptAll == Seq(1L, 14L), s"after batch 1 kept $keptAll")

    // replay batch 1 (checkpoint recovery): same input, same batch id —
    // output must be rewritten in place, not duplicated, and must not
    // self-match against its own previous fingerprint write
    val replayBatch = Seq(
      CDoc(11, "s", good),
      CDoc(12, "s", evalText + " plus some extra trailing context"),
      CDoc(13, "s", Seq.fill(40)("spam").mkString(" ")),
      CDoc(14, "s", "an entirely novel narrative mentioning watermarks checkpoints and state stores"),
      CDoc(15, "s", evalText))
      .toDF("doc_id", "source", "text")
    Streaming.curateBatch(replayBatch, eval, s"$root/fp", s"$root/kept", 1L)
    val keptReplay = spark.read.parquet(s"$root/kept").select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptReplay == Seq(1L, 14L), s"replay kept $keptReplay")
  }

  test("reliable-checkpoint eval artifacts gate identically to the localCheckpoint default") {
    // The r11 ADVICE fix: with reliableCheckpointDir set, the once-per-
    // stream eval artifacts checkpoint to reliable storage (executor
    // loss → re-read from DFS) instead of localCheckpoint (executor
    // loss → every later micro-batch fails, lineage truncated). Same
    // verdicts either way; the reliable run must leave checkpoint files.
    val docs = Seq(
      (1L, "s", "a wholly original document about spark catalyst and tungsten internals"),
      (2L, "s", "benchmark evaluation passage that must never leak into training data"),
      (3L, "s", "another original text mentioning shuffles partitions and adaptive execution"))
      .toDF("doc_id", "source", "text")
    val evalDocs = Seq((9L, "s", "benchmark evaluation passage that must never leak into training data"))
      .toDF("doc_id", "source", "text")
    val ckpt = Files.createTempDirectory("graft_evalck_").toString
    val local = Streaming.evalArtifacts(evalDocs)
    val reliable = Streaming.evalArtifacts(evalDocs, Some(ckpt))
    assert(reliable.shinglesNonEmpty == local.shinglesNonEmpty &&
      reliable.fpsNonEmpty == local.fpsNonEmpty)
    assert(reliable.shingles.collect().map(_.getLong(0)).sorted.toSeq ==
      local.shingles.collect().map(_.getLong(0)).sorted.toSeq)
    assert(reliable.fps.collect().map(_.toString).sorted.toSeq ==
      local.fps.collect().map(_.toString).sorted.toSeq)
    assert(java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt)).count() > 1,
      "reliable mode must materialize under the checkpoint dir")
    def kept(eval: Streaming.EvalArtifacts, tag: String): Seq[Long] = {
      val root = Files.createTempDirectory(s"graft_evalck_$tag").toString
      Streaming.curateBatch(docs, eval, s"$root/fp", s"$root/kept", 0L)
      spark.read.parquet(s"$root/kept").select("doc_id").as[Long].collect().toSeq.sorted
    }
    assert(kept(local, "l") == kept(reliable, "r"))
  }

  test("crash between the fused index write and the clusters write replays byte-identically") {
    import graft.operators.Dedup
    // mergeAndIndex writes the batch=N band index while CONSTRUCTING the
    // returned merge (the documented construction-time-write contract);
    // clusterBatch then persists the merge under clusters/batch=N. A
    // crash in between leaves batch=N index rows with no cluster
    // snapshot — the replay's probe EXCLUDES batch=N, so its reads (and
    // therefore its outputs, both halves being deterministic overwrites)
    // are identical to a run where the crash never happened.
    def doc(i: Long, t: String) = (i, "s", t)
    val b0 = Seq(doc(1, "alpha beta gamma delta"), doc(2, "one two three four five"))
      .toDF("doc_id", "source", "text")
    val b1 = Seq(doc(3, "alpha beta gamma delta"), doc(4, "six seven eight nine ten"))
      .toDF("doc_id", "source", "text")

    def readAll(dir: String): Set[String] =
      if (!graft.sources.Sources.fsExists(spark, dir)) Set.empty
      else spark.read.parquet(dir).collect().map(_.toString).toSet

    // clean reference run
    val clean = Files.createTempDirectory("graft_crash_clean_").toString
    Streaming.clusterBatch(b0, s"$clean/idx", s"$clean/clusters", 0L)
    Streaming.clusterBatch(b1, s"$clean/idx", s"$clean/clusters", 1L)

    // crashed run: batch 1 dies after the index write, before the
    // clusters write — exactly what CONSTRUCTING the merge and then not
    // materializing it produces
    val crash = Files.createTempDirectory("graft_crash_").toString
    Streaming.clusterBatch(b0, s"$crash/idx", s"$crash/clusters", 0L)
    val prior = Streaming.latestClusterSnapshot(spark, s"$crash/clusters", belowBatch = 1L).get
    Dedup.mergeAndIndex(prior, b1, s"$crash/idx", 1L, 0.8, None) // construct only: index written
    assert(readAll(s"$crash/idx/bands").nonEmpty, "crash point must leave batch=1 index rows")
    assert(!graft.sources.Sources.fsExists(spark, s"$crash/clusters/batch=1"),
      "crash point must leave no batch=1 cluster snapshot")
    // recovery: the checkpoint replays the whole micro-batch
    Streaming.clusterBatch(b1, s"$crash/idx", s"$crash/clusters", 1L)

    assert(readAll(s"$crash/clusters") == readAll(s"$clean/clusters"),
      "replayed cluster table diverges from the never-crashed run")
    assert(readAll(s"$crash/idx/bands") == readAll(s"$clean/idx/bands"),
      "replayed band index diverges from the never-crashed run")
    assert(readAll(s"$crash/idx/sigs") == readAll(s"$clean/idx/sigs"),
      "replayed sig index diverges from the never-crashed run")
  }

  test("fp-store compaction cadence: identical kept sets, collapsed dirs, replay-idempotent, loud mid-swap read") {
    val good1 = "a perfectly reasonable document with plenty of distinct informative tokens"
    val good2 = "another wholly original text mentioning shuffles partitions and adaptive query execution"
    val good3 = "a third novel narrative about watermarks checkpoints and state stores"
    val b0 = Seq(CDoc(1, "s", good1)).toDF("doc_id", "source", "text")
    val b1 = Seq(CDoc(2, "s", good2), CDoc(12, "s", good1)).toDF("doc_id", "source", "text")
    val b2 = Seq(CDoc(3, "s", good3), CDoc(13, "s", good2)).toDF("doc_id", "source", "text")
    val eval = Streaming.evalArtifacts(b0.limit(0))
    def run(root: String, every: Int): Seq[Long] = {
      Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
        Streaming.curateBatch(b, eval, s"$root/fp", s"$root/kept", i.toLong, every)
      }
      spark.read.parquet(s"$root/kept").select("doc_id").as[Long].collect().toSeq.sorted
    }
    val rootA = Files.createTempDirectory("graft_fpcad_off_").toString
    val rootB = Files.createTempDirectory("graft_fpcad_on_").toString
    val off = run(rootA, 0)
    val on = run(rootB, 2)
    // dups 12 and 13 must dedup against the (compacted) store either way
    assert(off == Seq(1L, 2L, 3L) && on == off,
      s"fp compaction changed the kept set: on=$on off=$off")
    val dirs = new java.io.File(s"$rootB/fp").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq.sorted
    assert(dirs == Seq("batch=-1", "batch=2"), s"expected gen + current batch, got $dirs")
    // replay batch 2 (compaction re-runs over the gen, then the batch
    // rewrites its own outputs) — kept set unchanged
    Streaming.curateBatch(b2, eval, s"$rootB/fp", s"$rootB/kept", 2L, compactEvery = 2)
    assert(spark.read.parquet(s"$rootB/kept").select("doc_id").as[Long].collect().toSeq.sorted == off)
    // interrupted swap: store aside, no live dir → reads refuse loudly,
    // and a compactFpStore re-run rolls the original back
    assert(new java.io.File(s"$rootB/fp").renameTo(new java.io.File(s"$rootB/fp.old")))
    val e = intercept[IllegalStateException] {
      Streaming.curateBatch(Seq(CDoc(99, "s", good1)).toDF("doc_id", "source", "text"),
        eval, s"$rootB/fp", s"$rootB/kept", 3L)
    }
    assert(e.getMessage.contains("compactFpStore"), s"mid-swap store must not read as empty: ${e.getMessage}")
    Streaming.compactFpStore(spark, s"$rootB/fp")
    Streaming.curateBatch(Seq(CDoc(99, "s", good1)).toDF("doc_id", "source", "text"),
      eval, s"$rootB/fp", s"$rootB/kept", 3L)
    // doc 99 duplicates good1 → must still dedup against the recovered store
    assert(spark.read.parquet(s"$rootB/kept").select("doc_id").as[Long].collect().toSeq.sorted == off)
  }

  test("crash leaving the clusters snapshot WITHOUT the index writes replays byte-identically") {
    import graft.operators.Dedup
    // The r12 concurrent-writes batch body makes the INVERSE of the
    // index-without-clusters crash reachable too: the snapshot write can
    // land while the in-flight bands/sigs writes do not. Replay must
    // still converge — latestClusterSnapshot(belowBatch=N) ignores the
    // orphaned batch=N snapshot and every batch=N path is rewritten.
    def doc(i: Long, t: String) = (i, "s", t)
    val b0 = Seq(doc(1, "alpha beta gamma delta"), doc(2, "one two three four five"))
      .toDF("doc_id", "source", "text")
    val b1 = Seq(doc(3, "alpha beta gamma delta"), doc(4, "six seven eight nine ten"))
      .toDF("doc_id", "source", "text")
    def readAll(dir: String): Set[String] =
      if (!graft.sources.Sources.fsExists(spark, dir)) Set.empty
      else spark.read.parquet(dir).collect().map(_.toString).toSet

    val clean = Files.createTempDirectory("graft_crashinv_clean_").toString
    Streaming.clusterBatch(b0, s"$clean/idx", s"$clean/clusters", 0L)
    Streaming.clusterBatch(b1, s"$clean/idx", s"$clean/clusters", 1L)

    val crash = Files.createTempDirectory("graft_crashinv_").toString
    Streaming.clusterBatch(b0, s"$crash/idx", s"$crash/clusters", 0L)
    Streaming.clusterBatch(b1, s"$crash/idx", s"$crash/clusters", 1L)
    // simulate the crash state: batch=1 snapshot durable, index writes lost
    def rmr(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles().foreach(c => rmr(c.getPath))
      f.delete(); ()
    }
    rmr(s"$crash/idx/bands/batch=1"); rmr(s"$crash/idx/sigs/batch=1")
    assert(graft.sources.Sources.fsExists(spark, s"$crash/clusters/batch=1"))
    assert(!graft.sources.Sources.fsExists(spark, s"$crash/idx/bands/batch=1"))
    // recovery: the checkpoint replays the whole micro-batch
    Streaming.clusterBatch(b1, s"$crash/idx", s"$crash/clusters", 1L)
    assert(readAll(s"$crash/clusters") == readAll(s"$clean/clusters"),
      "replayed cluster table diverges from the never-crashed run")
    assert(readAll(s"$crash/idx/bands") == readAll(s"$clean/idx/bands"),
      "replayed band index diverges from the never-crashed run")
    assert(readAll(s"$crash/idx/sigs") == readAll(s"$clean/idx/sigs"),
      "replayed sig index diverges from the never-crashed run")
  }

  test("fp store, crash AFTER the compacted gen is written BEFORE any rename: reads stay live, a re-run completes") {
    // Interrupt point 1 of compactFpStore's swap (r11 VERDICT item 5):
    // `fp.new` exists (content immaterial — recovery never reads it)
    // while the live store is untouched. Dedup must keep working off
    // the live store, and a compactFpStore re-run must discard the
    // leftover `.new` and complete.
    val good = "a perfectly reasonable document with plenty of distinct informative tokens"
    val root = Files.createTempDirectory("graft_fpcrash_pre_").toString
    val eval = Streaming.evalArtifacts(
      Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text"))
    Streaming.curateBatch(Seq(CDoc(1, "s", good)).toDF("doc_id", "source", "text"),
      eval, s"$root/fp", s"$root/kept", 0L)
    val neu = new java.io.File(s"$root/fp.new/batch=-1")
    assert(neu.mkdirs())
    java.nio.file.Files.write(neu.toPath.resolve("part-stale.parquet"), "stale".getBytes)
    // pre-recovery reads serve the live store: the dup of doc 1 drops
    Streaming.curateBatch(Seq(CDoc(11, "s", good)).toDF("doc_id", "source", "text"),
      eval, s"$root/fp", s"$root/kept", 1L)
    assert(spark.read.parquet(s"$root/kept").select("doc_id").as[Long].collect().toSeq.sorted
      == Seq(1L), "a pre-rename crash must leave dedup serving the intact live store")
    Streaming.compactFpStore(spark, s"$root/fp") // discards stale .new
    assert(!new java.io.File(s"$root/fp.new").exists(), "fp.new must be cleaned up")
    assert(!new java.io.File(s"$root/fp.old").exists(), "fp.old must be cleaned up")
    Streaming.curateBatch(Seq(CDoc(21, "s", good)).toDF("doc_id", "source", "text"),
      eval, s"$root/fp", s"$root/kept", 2L)
    assert(spark.read.parquet(s"$root/kept").select("doc_id").as[Long].collect().toSeq.sorted
      == Seq(1L), "post-recovery dedup must still match the pre-crash store")
  }

  test("fp store, crash BETWEEN the two renames (.old aside, .new present): reads refuse, a re-run rolls back") {
    // Interrupt point 2: the live store was moved to `fp.old` but the
    // new gen was never activated. Reads must refuse loudly (an empty
    // read re-admits every deduped doc) and a re-run must roll the
    // original back, ignoring the orphaned `.new`.
    val good = "another wholly original text mentioning shuffles partitions and adaptive execution"
    val root = Files.createTempDirectory("graft_fpcrash_mid_").toString
    val eval = Streaming.evalArtifacts(
      Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text"))
    Streaming.curateBatch(Seq(CDoc(1, "s", good)).toDF("doc_id", "source", "text"),
      eval, s"$root/fp", s"$root/kept", 0L)
    assert(new java.io.File(s"$root/fp").renameTo(new java.io.File(s"$root/fp.old")))
    val neu = new java.io.File(s"$root/fp.new/batch=-1")
    assert(neu.mkdirs())
    java.nio.file.Files.write(neu.toPath.resolve("part-candidate.parquet"), "gen".getBytes)
    val e = intercept[IllegalStateException] {
      Streaming.curateBatch(Seq(CDoc(11, "s", good)).toDF("doc_id", "source", "text"),
        eval, s"$root/fp", s"$root/kept", 1L)
    }
    assert(e.getMessage.contains("compactFpStore"),
      s"mid-swap store must not read as empty: ${e.getMessage}")
    Streaming.compactFpStore(spark, s"$root/fp") // rolls .old back, discards .new
    assert(!new java.io.File(s"$root/fp.new").exists(), "fp.new must be cleaned up")
    assert(!new java.io.File(s"$root/fp.old").exists(), "fp.old must be cleaned up")
    Streaming.curateBatch(Seq(CDoc(11, "s", good)).toDF("doc_id", "source", "text"),
      eval, s"$root/fp", s"$root/kept", 1L)
    assert(spark.read.parquet(s"$root/kept").select("doc_id").as[Long].collect().toSeq.sorted
      == Seq(1L), "the recovered store must still dedup the duplicate")
  }

  test("composed curate→cluster pipeline: stream ≡ batch on kept set AND cluster assignments, across kill/recover") {
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_pipe_").toFile.getAbsolutePath
    val docs = Tables(spark, Sf0001, "documents")
    val evalDocs = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("source"), col("text"))
    // two arrival batches in doc_id order (the arrival order under which
    // first-seen-wins canonicalization coincides with the manifest's
    // min-id rule, CurateIngestSpec test 1's contract)
    val all = corpus.as[CDoc].collect().toSeq.sortBy(_.doc_id)
    val (h1, h2) = all.splitAt(all.size / 2)

    val ms = MemoryStream[CDoc](spark)
    val start = () => Streaming.curateAndClusterIngest(ms.toDF(), evalDocs,
      s"$root/fp", s"$root/kept", s"$root/idx", s"$root/clusters",
      s"$root/ckpt", trigger = Trigger.AvailableNow()).start()
    ms.addData(h1)
    val q0 = start(); q0.awaitTermination()
    // kill/recover: a NEW query resumes from the checkpoint for batch 1
    ms.addData(h2)
    val q1 = start(); q1.awaitTermination()
    // mid-stream recovery replay: rerun batch 1's composed body directly
    // (same inputs, same batch id) — both halves must rewrite in place
    val eval = Streaming.evalArtifacts(evalDocs)
    Streaming.curateBatch(h2.toDF(), eval, s"$root/fp", s"$root/kept", 1L)
    Streaming.clusterBatch(
      spark.read.parquet(s"$root/kept/batch=1"), s"$root/idx", s"$root/clusters", 1L)

    // kept set ≡ one batch curateBatch call over the whole corpus
    val streamKept = spark.read.parquet(s"$root/kept")
      .select("doc_id").as[Long].collect().toSet
    Streaming.curateBatch(corpus, eval, s"$root/bfp", s"$root/bkept", 0L)
    val batchKept = spark.read.parquet(s"$root/bkept")
      .select("doc_id").as[Long].collect().toSet
    assert(streamKept == batchKept,
      s"kept sets diverge: stream-only ${(streamKept -- batchKept).take(5)}, " +
        s"batch-only ${(batchKept -- streamKept).take(5)}")
    assert(streamKept.nonEmpty)

    // cluster assignments ≡ a from-scratch clusterDocs run on the kept set
    val snapshot = Streaming.latestClusterSnapshot(spark, s"$root/clusters").get
      .as[(Long, Long)].collect().toSet
    val live = Dedup.clusterDocs(corpus.filter(col("doc_id").isin(batchKept.toSeq: _*)))
      .as[(Long, Long)].collect().toSet
    assert(snapshot == live,
      s"cluster tables diverge: snapshot-only ${(snapshot -- live).take(5)}, " +
        s"live-only ${(live -- snapshot).take(5)}")
  }
}

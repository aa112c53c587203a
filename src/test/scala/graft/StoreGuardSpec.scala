package graft

import graft.operators.Dedup
import graft.streaming.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two r12 store-safety guards:
  *
  *  1. Hash-version stamping ([[Qh.StoreHashVersion]]): every persisted
  *     fingerprint/band store carries a `_graft_hash_v` marker; reads
  *     refuse an unstamped (pre-v2, UTF-16-fold) or mismatched store
  *     LOUDLY instead of silently missing re-hashed duplicates — the
  *     r11 ADVICE hole where a fold change is invisible at read time.
  *
  *  2. [[Qh.setReliableCheckpointDir]]: `SparkContext.setCheckpointDir`
  *     is session-global; repointing it for a second stream warns, and
  *     a same-dir re-set is a no-op (no per-batch UUID-dir litter).
  */
class StoreGuardSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text").withColumn("source", lit("src0"))
  private val doc = (1 to 30).map(i => s"tok$i").mkString(" ")

  test("an unstamped band index (valid columns, pre-v2 fold) refuses loudly") {
    // All declared columns present — only the hash-version stamp is
    // missing, which is exactly what a pre-r11 store looks like after
    // the code-point fold change: schema-compatible, semantically not.
    val idx = java.nio.file.Files.createTempDirectory("graft_hv_unstamped_").toString
    Seq(("k0", 1L, "src0", 0, 0)).toDF("bkey", "doc_id", "source", "band", "kb")
      .write.partitionBy("band", "kb").parquet(s"$idx/bands/batch=0")
    Seq((1L, Seq(1L, 2L))).toDF("doc_id", "tk")
      .write.parquet(s"$idx/sigs/batch=0")
    val e = intercept[IllegalStateException] {
      Dedup.mergeClusters(Seq.empty[(Long, Long)].toDF("doc_id", "cluster"),
        docsDF(Seq(10L -> doc)), idx).collect()
    }
    assert(e.getMessage.contains("hash-fold version") && e.getMessage.contains("unstamped"),
      s"must name the hash-version contract: ${e.getMessage}")
  }

  test("a mismatched hash-version stamp refuses loudly and names both versions") {
    val idx = java.nio.file.Files.createTempDirectory("graft_hv_mismatch_").toString
    Dedup.indexBatch(docsDF(Seq(1L -> doc)), idx, batchId = 0L)
    // overwrite the stamp with a stale version (drop the checksum
    // sidecar too — a genuine v1 engine would have written a matching
    // one; a raw overwrite alone just corrupts the local-FS crc)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$idx/bands/_graft_hash_v"), "1\n".getBytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$idx/bands/._graft_hash_v.crc"))
    val e = intercept[IllegalStateException] {
      Dedup.mergeClusters(Seq.empty[(Long, Long)].toDF("doc_id", "cluster"),
        docsDF(Seq(10L -> doc)), idx).collect()
    }
    assert(e.getMessage.contains("version 1") &&
      e.getMessage.contains(s"version ${Qh.StoreHashVersion}"),
      s"must name stored and engine versions: ${e.getMessage}")
  }

  test("the stamp is written by every index writer and survives compaction") {
    val idx = java.nio.file.Files.createTempDirectory("graft_hv_roundtrip_").toString
    Dedup.indexBatch(docsDF(Seq(1L -> doc, 2L -> (doc + " extraA"))), idx, batchId = 0L)
    assert(new java.io.File(s"$idx/bands/_graft_hash_v").exists(), "indexBatch must stamp bands")
    assert(new java.io.File(s"$idx/sigs/_graft_hash_v").exists(), "indexBatch must stamp sigs")
    Dedup.compactIndex(spark, idx)
    assert(new java.io.File(s"$idx/bands/_graft_hash_v").exists(),
      "the compaction swap must carry the stamp into the new generation")
    assert(new java.io.File(s"$idx/sigs/_graft_hash_v").exists())
    // and the compacted store still reads (marker invisible to parquet
    // discovery, version accepted)
    val merged = Dedup.mergeClusters(Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster"),
      docsDF(Seq(10L -> doc)), idx)
    assert(merged.count() == 3)
  }

  test("fp store: unstamped refuses; stamped store round-trips through compactFpStore") {
    val eval = Streaming.evalArtifacts(
      Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text"))
    // unstamped store with valid columns
    val badRoot = java.nio.file.Files.createTempDirectory("graft_hv_fp_bad_").toString
    Seq(("s", 123L)).toDF("source", "fp").write.parquet(s"$badRoot/fp/batch=0")
    val e = intercept[IllegalStateException] {
      Streaming.curateBatch(Seq((1L, "s", doc)).toDF("doc_id", "source", "text"),
        eval, s"$badRoot/fp", s"$badRoot/kept", 1L)
    }
    assert(e.getMessage.contains("hash-fold version"), s"got: ${e.getMessage}")
    // stamped store: curateBatch stamps on write; compaction preserves it
    val root = java.nio.file.Files.createTempDirectory("graft_hv_fp_ok_").toString
    Streaming.curateBatch(Seq((1L, "s", doc)).toDF("doc_id", "source", "text"),
      eval, s"$root/fp", s"$root/kept", 0L)
    assert(new java.io.File(s"$root/fp/_graft_hash_v").exists(), "curateBatch must stamp the store")
    Streaming.compactFpStore(spark, s"$root/fp")
    assert(new java.io.File(s"$root/fp/_graft_hash_v").exists(),
      "the compaction swap must carry the stamp")
    // and the duplicate still dedups against the compacted store
    Streaming.curateBatch(Seq((11L, "s", doc)).toDF("doc_id", "source", "text"),
      eval, s"$root/fp", s"$root/kept", 1L)
    assert(spark.read.parquet(s"$root/kept").select("doc_id").as[Long].collect().toSeq
      == Seq(1L))
  }

  test("a stamped marker-only store (crash between stamp and first data write) reads empty and replays cleanly") {
    // Writers stamp BEFORE the first data write, so this exact state is
    // reachable; it must read as an EMPTY store (the replay rewrites
    // batch=N), not as a refusal and not as an inference error.
    val idx = java.nio.file.Files.createTempDirectory("graft_hv_markeronly_").toString
    Seq("bands", "sigs").foreach { sub =>
      new java.io.File(s"$idx/$sub").mkdirs()
      Qh.stampHashVersion(spark, s"$idx/$sub")
    }
    val merged = Dedup.mergeClusters(Seq((1L, 1L)).toDF("doc_id", "cluster"),
      docsDF(Seq(10L -> doc)), idx)
    assert(merged.count() == 2, "marker-only index must behave as an empty store")

    val root = java.nio.file.Files.createTempDirectory("graft_hv_fp_marker_").toString
    new java.io.File(s"$root/fp").mkdirs()
    Qh.stampHashVersion(spark, s"$root/fp")
    val eval = Streaming.evalArtifacts(
      Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text"))
    Streaming.curateBatch(Seq((1L, "s", doc)).toDF("doc_id", "source", "text"),
      eval, s"$root/fp", s"$root/kept", 0L)
    assert(spark.read.parquet(s"$root/kept").count() == 1,
      "marker-only fp store must behave as an empty store")
  }

  test("afterBoth drains the surviving write when its partner fails fast (the Future.zip hazard)") {
    // Future.zip fails as soon as EITHER side fails; the batch bodies
    // must instead wait for BOTH writes before returning (a replay that
    // starts while the partner write is still mutating batch=N paths
    // corrupts the store). Plant a fast failure + a slow success and
    // assert afterBoth completes only after the slow side finishes, with
    // the fast side's failure surfaced.
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val fastFail = scala.concurrent.Future[Unit] { throw new RuntimeException("fast failure") }
    val slowOk = scala.concurrent.Future[Unit] { Thread.sleep(800); slowDone.set(true) }
    val both = Qh.afterBoth(fastFail, slowOk)
    val e = intercept[RuntimeException] {
      scala.concurrent.Await.result(both, scala.concurrent.duration.Duration(10, "s"))
    }
    assert(e.getMessage == "fast failure", "the first failure must surface")
    assert(slowDone.get(), "afterBoth completed before the surviving write finished — " +
      "a replay could race the in-flight partner (the zip fail-fast hazard)")
    // and both-success composes to success
    scala.concurrent.Await.result(
      Qh.afterBoth(scala.concurrent.Future.unit, scala.concurrent.Future.unit),
      scala.concurrent.duration.Duration(10, "s"))
  }

  // Streaming.drainAfter, the rule of a batch body that leaves writes in
  // flight: always await them, rethrow the body's failure, otherwise
  // surface the writes' failure.
  private def drainCase(write: => Unit)(body: => Unit): (Option[Throwable], Boolean) = {
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val writeDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writes = scala.concurrent.Future[Unit] {
      try write finally writeDone.set(true)
    }
    val raised = scala.util.Try(Streaming.drainAfter(writes)(body)).failed.toOption
    (raised, writeDone.get())
  }

  test("drainAfter: a failing body waits for the sleeping write, then raises its own failure") {
    val (raised, writeDone) = drainCase {
      Thread.sleep(800); throw new RuntimeException("write failure")
    }(throw new RuntimeException("body failure"))
    assert(writeDone, "the body's failure left before the in-flight write completed")
    assert(raised.map(_.getMessage).contains("body failure"), s"raised $raised")
  }

  test("drainAfter: a succeeding body surfaces the write's failure") {
    val (raised, writeDone) = drainCase(throw new RuntimeException("write failure"))(())
    assert(writeDone)
    assert(raised.map(_.getMessage).contains("write failure"), s"raised $raised")
  }

  test("drainAfter: body and write both succeed, nothing is raised") {
    val (raised, writeDone) = drainCase(Thread.sleep(200))(())
    assert(writeDone && raised.isEmpty, s"raised $raised")
  }

  test("setReliableCheckpointDir: differing pre-set dir warns loudly; same-dir re-set is a silent no-op") {
    val dirA = java.nio.file.Files.createTempDirectory("graft_ckpt_a_").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_ckpt_b_").toString
    val saved = spark.sparkContext.getCheckpointDir
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    try {
      System.setErr(new java.io.PrintStream(errBuf, true))
      Qh.setReliableCheckpointDir(spark, dirA)
      val setA = spark.sparkContext.getCheckpointDir.get
      // an earlier suite may have left a checkpoint dir set, making the
      // FIRST repoint warn legitimately — assert only on deltas below
      errBuf.reset()
      assert(setA.contains(new java.io.File(dirA).getName), s"checkpoint dir must point under $dirA: $setA")
      // same dir again: no warning, and the SAME UUID subdir is kept
      // (a raw setCheckpointDir would mkdir a fresh one per call)
      Qh.setReliableCheckpointDir(spark, dirA)
      assert(spark.sparkContext.getCheckpointDir.get == setA,
        "same-dir re-set must keep the existing UUID subdir")
      assert(!errBuf.toString.contains("WARNING"), s"same-dir re-set must not warn: $errBuf")
      // differing dir: warn + last-wins (the documented session-global hazard,
      // e.g. two concurrent curation streams with different reliable dirs)
      Qh.setReliableCheckpointDir(spark, dirB)
      val out = errBuf.toString
      assert(out.contains("WARNING") && out.contains("SESSION-GLOBAL"),
        s"differing dir must warn about the session-global repoint: $out")
      assert(spark.sparkContext.getCheckpointDir.get.contains(new java.io.File(dirB).getName),
        "last-wins: the dir must now point under dirB")
    } finally {
      System.setErr(realErr)
      saved.foreach(d => spark.sparkContext.setCheckpointDir(
        new org.apache.hadoop.fs.Path(d).getParent.toString))
    }
  }
}

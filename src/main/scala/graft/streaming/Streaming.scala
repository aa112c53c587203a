package graft.streaming

import graft.schema.Models
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

/** Streaming surface SQ1–SQ10 (SURVEY.md §2.2) + SQ11 stream-stream interval join.
  *
  * Architecture: every transformation is a plain `DataFrame => DataFrame`
  * — the SAME function binds to a batch read or a `readStream`, which is
  * what makes batch-vs-stream equivalence testable (the reference has no
  * such property; its batch/stream split is two codebases).
  *
  * Delivery semantics mirror the reference honestly (SURVEY §7.4 risk 5):
  * source progress commits AFTER sink success (Structured Streaming's
  * checkpoint commit-log ordering = raw_content_consumer.go:112-121), and
  * end-to-end is at-least-once + idempotent-by-content_id, which is what
  * the reference's Kafka-transactions-plus-mark-after-publish actually
  * provides (§3.1 ordering-bug note).
  */
object Streaming {

  /** SQ2 — the reference micro-batch cadence (utils/batching.go:12). */
  val DefaultTrigger: Trigger = Trigger.ProcessingTime("5 seconds")

  /** Store compaction cadence of [[clusterBatch]]'s band index and
    * [[curateBatch]]'s fingerprint store: every 32nd micro-batch
    * compacts the committed batches first (0 disables). */
  val CompactEvery = 32

  /** SQ1 — file-based stream source with a FIXED schema (never inferred on
    * a stream). For a real deployment the same pipeline binds to
    * `spark.readStream.format("kafka")` + `from_json(col("value"))` with
    * this schema; the Kafka connector jar is not present in this offline
    * environment, so the file source is the tested path. */
  def jsonFileSource(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // backpressure knob
      .json(dir)

  /** Kafka source options the production binding would use — kept here as
    * the single place documenting S4/K1 semantics (earliest, read_committed
    * is the Spark default, offsets via checkpoint not manual commit). */
  def kafkaSourceOptions(bootstrap: String, topic: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> "earliest",
    "maxOffsetsPerTrigger" -> "10000")

  // ------------------------------------------------------------------
  // Transforms (batch == stream)
  // ------------------------------------------------------------------

  /** T10/SQ8 — length router: adds `branch` ∈ {summary, direct}; strict
    * `>` threshold (raw_content_consumer.go:14,55). Split into two sinks
    * by filtering on the column — two queries off one source. */
  def routeByLength(df: DataFrame, threshold: Int = Models.SummaryThreshold): DataFrame =
    df.withColumn("branch",
      when(length(col("text")) > threshold, "summary").otherwise("direct"))

  /** Decontamination gate on ingest — the streaming form of
    * text_decontam_bloom: drop any document sharing a 3-gram shingle with
    * a BOUNDED eval set, tested per row against a broadcast Bloom filter
    * (built once at stream definition; eval sets are fixed artifacts).
    * Stateless projection+filter — no stream join, no state store, binds
    * identically to batch and readStream (CorpusOpsSpec asserts the
    * equivalence).
    *
    * Semantics are CONSERVATIVE: a contaminated doc is never kept (bloom
    * false negatives are impossible), but clean docs are dropped as
    * collateral on false-positive shingle hits — and the per-DOC drop
    * probability COMPOUNDS over the doc's shingles: 1-(1-fpp)^S for S
    * probed shingles, where fpp is per-shingle (~4.6e-4 at the default
    * 16 bits/key with the fpp-optimal k=11 — see [[graft.functions.Bloom
    * .optimalK]]). A 1000-shingle clean doc is therefore dropped with
    * ~37% probability at 16 bits/key; gate deployments that cannot
    * tolerate that must size the filter for the per-doc budget
    * (bitsPerKey ≈ 32 → fpp ≈ 2e-7 → per-1000-shingle drop ≈ 0.02%), or
    * run the batch path (text_decontam_bloom's exact verify join), which
    * recovers all collateral offline regardless of fpp. */
  def decontamGate(docs: DataFrame, bloom: graft.functions.Bloom.Filter,
      textCol: String = "text"): DataFrame = {
    import graft.operators.Dedup.{shingles3, tokHashesSeq}
    docs.filter(!exists(shingles3(tokHashesSeq(col(textCol))),
      g => graft.functions.Bloom.mightContain(g, bloom)))
  }

  /** SQ3 — tumbling 1 h counts per event_type, 24 h watermark (the
    * reference TTL horizon); late rows beyond the watermark are dropped. */
  def tumblingCounts(df: DataFrame, tsCol: String = "ts",
      watermark: String = "24 hours", width: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** SQ4 — sliding 1 h / 15 min mean value per event_type. */
  def slidingAvg(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.withWatermark(tsCol, "24 hours")
      .groupBy(window(col(tsCol), "1 hour", "15 minutes"), col("event_type"))
      .agg(avg(col("value")).as("avg_value"), count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("avg_value"), col("n"))

  /** SQ5 — session windows per user (30 min gap), engagement counts. */
  def sessionCounts(df: DataFrame, tsCol: String = "ts", gap: String = "30 minutes"): DataFrame =
    df.withWatermark(tsCol, "24 hours")
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("user_id"),
        col("n_events"), col("sum_value"))

  /** SQ6/T7 — streaming dedup with 24 h state TTL
    * (valkey_client.go:126-159): watermark bounds the dedup state exactly
    * like the Valkey EXPIRE bounds the reference's set. */
  def dedupWithinWatermark(df: DataFrame, keys: Seq[String],
      tsCol: String = "ts", watermark: String = "24 hours"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** SQ7/S6 — stream-static join: events stream against a topics snapshot
    * (the producer re-scans the Topics table each cycle,
    * dynamodb.go:105-133 — stream-static re-reads the static side per
    * micro-batch, same semantics). */
  def streamStaticJoin(stream: DataFrame, static: DataFrame, key: String): DataFrame =
    stream.join(broadcast(static), Seq(key), "left_outer")

  /** SQ11 — stream-stream interval join: each purchase is joined to the
    * same user's clicks at most `horizonSec` BEFORE it. Both sides carry
    * watermarks and the join condition bounds event time on both ends —
    * the two requirements that let Spark evict join state instead of
    * growing it forever (a click is dropped once the purchase-side
    * watermark passes click_ts + horizon). Inner joins are the
    * production-safe shape; outer interval joins emit nulls only at
    * watermark expiry. The reference joins these streams client-side via
    * its content_id tracking map (utils/message_tracking.go:11-22) with
    * unbounded state — this is the bounded-state equivalent. */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame,
      watermark: String = "1 hour", horizonSec: Long = 3600L): DataFrame =
    intervalJoinOf(clicks, purchases, watermark, horizonSec, "inner")

  /** SQ11's LEFT OUTER sibling: every click row eventually emits — joined
    * to each qualifying purchase within the horizon, or null-padded once
    * the GLOBAL watermark (the min across both sides) passes
    * `click_ts + horizon`, proving the click went unconverted. This is
    * the semantics an attribution sink actually wants (inner joins
    * silently drop non-converting clicks); the cost is emission LATENCY
    * bounded by watermark delay + horizon, and state bounded exactly
    * like [[intervalJoin]]. Null rows appear only at watermark expiry —
    * a stopped stream leaves still-in-horizon clicks pending
    * (spec-pinned with a watermark-advancing sentinel batch). */
  def intervalJoinOuter(clicks: DataFrame, purchases: DataFrame,
      watermark: String = "1 hour", horizonSec: Long = 3600L): DataFrame =
    intervalJoinOf(clicks, purchases, watermark, horizonSec, "leftOuter")

  private def intervalJoinOf(clicks: DataFrame, purchases: DataFrame,
      watermark: String, horizonSec: Long, joinType: String): DataFrame = {
    val c = clicks.select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizonSec SECONDS"),
        joinType)
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("value"))
  }

  /** SQ10 — stateful running aggregate per topic (count + mean score), for
    * update-mode sinks (the results-accumulation query of the serving
    * layer). */
  def runningTopicAgg(df: DataFrame): DataFrame =
    df.groupBy(col("topic"))
      .agg(count(lit(1)).as("n"),
        avg(col("sentiment_score")).as("mean_score"))

  // ------------------------------------------------------------------
  // Sinks
  // ------------------------------------------------------------------

  /** SQ9/K1 — exactly-once-to-files sink: checkpointed micro-batches with
    * the 5 s trigger; Structured Streaming's commit log makes file output
    * exactly-once across kill/restart. Parquet append, TTL column attached
    * (K3/K4 pattern, db/dynamodb.go:34,201). */
  def parquetSink(df: DataFrame, outDir: String, checkpoint: String,
      trigger: Trigger = DefaultTrigger): DataStreamWriter[org.apache.spark.sql.Row] =
    df.withColumn("expires_at", current_timestamp() + expr("INTERVAL 24 HOURS"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)

  /** The one checkpointed micro-batch lane every sink below is built
    * on: `body` runs once per micro-batch with its batch id, and the
    * checkpoint commit log records the batch only after `body` returns —
    * source progress commits AFTER sink success. A body that throws
    * leaves the batch uncommitted, so a restart from the same checkpoint
    * replays it; bodies that write only their own `batch=N` paths
    * (overwrite) are therefore idempotent at-least-once. The `*Batch`
    * functions below are such bodies — `batchLane(s, ckpt)(sketchBatch(_,
    * dir, _))` — and stay public so a spec can replay one batch id. */
  def batchLane(stream: DataFrame, checkpoint: String, trigger: Trigger = DefaultTrigger)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(body)

  /** K3/K4 — foreachBatch sink writing in sub-batches of `insertBatch`
    * rows (reference DB write chunking, 25, utils/batching.go:11) through
    * an arbitrary writer. Batch-id based idempotence: the writer receives
    * (batchId, rows) and must upsert by key — at-least-once + idempotent =
    * the reference's true end-to-end contract.
    *
    * The writer runs ON EXECUTORS, one invocation per `insertBatch` rows
    * per partition (it must be serializable and carry/open its own client
    * connection, the standard foreachPartition contract). The micro-batch
    * is never collected to the driver — a large batch at 100 TB-ingest
    * rates would OOM a driver-side sink. */
  def foreachBatchSink(df: DataFrame, checkpoint: String, insertBatch: Int = 25)(
      writer: (Long, Seq[Row]) => Unit): DataStreamWriter[Row] =
    batchLane(df, checkpoint) { (batch, batchId) =>
      val (n, w) = (insertBatch, writer) // serialize only what the task needs
      batch.rdd.foreachPartition { it =>
        it.grouped(n).foreach(rows => w(batchId, rows.toSeq))
      }
    }

  /** M1 — health-gated foreachBatch sink (reference
    * monitoring/ai_healthchecks.go:12-48; consumer gating at
    * summary_consumer.go:67-71): the batch body runs only when `healthy()`
    * reports true. While unhealthy the gate probes at most `maxTries`
    * times in all, `backoffMs` apart; if the backend stays down the batch
    * FAILS with an exception — Structured Streaming then does NOT write
    * the batch's commit-log entry, so a later restart reprocesses the
    * SAME batch from the checkpoint. Gating therefore never skips or
    * drops data; it only delays it until the backend recovers (the
    * reference pauses consumption on failed healthchecks the same way). */
  def healthGatedSink(df: DataFrame, checkpoint: String, healthy: () => Boolean,
      maxTries: Int = 3, backoffMs: Long = 100, trigger: Trigger = DefaultTrigger)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    batchLane(df, checkpoint, trigger) { (batch, batchId) =>
      var tries = 1
      while (!healthy()) {
        if (tries >= maxTries)
          throw new IllegalStateException(
            s"backend unhealthy after $maxTries probes; failing batch $batchId for retry")
        Thread.sleep(backoffMs); tries += 1
      }
      body(batch, batchId)
    }

  /** Streaming near-dup ingest, one micro-batch: the batch is deduped
    * against the persistent LSH band index
    * ([[graft.operators.Dedup.incrementalNearDup]]) and the kept docs
    * land under `keptDir/batch=N` — per-batch overwrite paths, so
    * checkpoint-recovery replays rewrite rather than duplicate
    * (idempotent at-least-once, the reference's true end-to-end contract).
    * This is T7's cross-run dedup upgraded from exact post-id equality to
    * MinHash-LSH near-dup — the arrival-time dedup a 100 TB training-data
    * ingest needs (the kept corpus is never re-clustered, only probed). */
  def nearDupBatch(batch: DataFrame, indexDir: String, keptDir: String,
      batchId: Long, threshold: Double = 0.7): Unit =
    graft.operators.Dedup.incrementalNearDup(batch, indexDir, threshold, batchId)
      .write.mode("overwrite").parquet(s"$keptDir/batch=$batchId")

  /** Streaming ANN-index maintenance, one micro-batch — the vector
    * counterpart of [[nearDupBatch]]: the arriving embeddings are encoded
    * against the index's FROZEN codebooks and centroid table (trained once
    * at bulk-build time by [[graft.operators.Similarity.writeIvfPqIndex]] —
    * the standard IVFADC operating mode: retraining is an offline rebuild,
    * never an ingest-path concern) and written to their own versioned cells
    * path `cells/batch=1+id/cell=K`. A replayed micro-batch overwrites the
    * same path from the same input — idempotent at-least-once. Probes
    * ([[graft.operators.Similarity.ivfPqProbe]]) see new vectors on their
    * next run: partition discovery unions every batch directory and cell
    * pruning applies across all of them. */
  def pqBatch(batch: DataFrame, indexDir: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    val cb = s.read.parquet(s"$indexDir/codebooks")
    val cents = s.read.parquet(s"$indexDir/centroids")
    graft.operators.Similarity.encodeForIndex(batch, cb, cents)
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$indexDir/cells/batch=${batchId + 1}")
  }

  /** Streaming cluster maintenance, one micro-batch — the
    * retain-and-track counterpart of [[nearDupBatch]]: the batch merges
    * into the near-dup cluster table
    * ([[graft.operators.Dedup.mergeClusters]], closure update on a
    * batch-sized micro-graph) and then indexes itself
    * ([[graft.operators.Dedup.indexBatch]]) so later batches can probe it.
    * Composed pipelines ([[curateAndClusterIngest]]) run it on a derived
    * frame inside their own batch body.
    *
    * The cluster table is stored as VERSIONED FULL SNAPSHOTS
    * (`clustersDir/batch=N`): each batch reads the latest snapshot below
    * its own id and overwrites only its own version path, so a replayed
    * micro-batch (at-least-once sources) rewrites the same snapshot from
    * the same input — idempotent end to end (mergeClusters additionally
    * drops already-present doc_ids, so even a replay AGAINST its own
    * output is a no-op). Snapshot-per-batch trades write amplification
    * (O(corpus) per micro-batch) for dead-simple atomicity and replay;
    * a production deployment at 100 TB ingest cadence would swap the
    * storage for a merge-on-read table format (the merge DELTA — new rows
    * + the bounded relabel map — is what mergeClusters actually computes)
    * while keeping this exact dataflow.
    *
    * (r12 note: carrying the prior snapshot in memory across batches —
    * localCheckpoint + reuse instead of re-reading batch=N-1 parquet —
    * was tried and MEASURED SLOWER at bench scale: the eager
    * materialization is one more serial job per batch, which costs more
    * than the three prior re-scans it saves. The parquet re-read stays.) */
  def clusterBatch(batch: DataFrame, indexDir: String, clustersDir: String,
      batchId: Long, threshold: Double = 0.8,
      reliableCheckpointDir: Option[String] = None,
      compactEvery: Int = CompactEvery): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    // Compaction cadence (`compactEvery`, default [[CompactEvery]];
    // 0 disables): streaming ingest accumulates one
    // band/sig directory tree per batch, and every later batch's probe
    // pays the listing for all of them — unbounded metadata growth over
    // a long-running stream. Compacting HERE, at the start of batch N,
    // is replay-safe: ids < N are checkpoint-committed, and the
    // excludeBatch=N guard drops (rather than compacts) any leftover
    // from a crashed attempt at this batch, which the merge below
    // rewrites anyway. Amortized rewrite cost is gen-size/32 per batch —
    // the LSM tradeoff.
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      Dedup.compactIndex(spark, indexDir, excludeBatch = Some(batchId))
    val prior = latestClusterSnapshot(spark, clustersDir, belowBatch = batchId)
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, cluster BIGINT")))
    // reliableCheckpointDir: pass on a real cluster so a lost executor
    // mid-propagation recomputes instead of failing the micro-batch.
    // mergeAndIndex fuses the index write into the merge so the batch's
    // signatures and band explode are computed once, not twice (r10
    // lane-amortization; same batch=N overwrite replay contract as the
    // former mergeClusters + indexBatch sequence). r12: the STAGED form
    // leaves the bands/sigs writes in flight so the cluster-snapshot
    // write below runs as a concurrent job — three independent writes,
    // one serial slot. Replay stays correct for ANY subset of batch=N
    // outputs a crash leaves (every read here excludes batch N and every
    // write is an overwrite of its own batch=N path); the drain
    // guarantees all three are durable before the checkpoint commits.
    val (merged, idxF) = Dedup.mergeAndIndexStaged(prior, batch, indexDir, batchId,
      threshold, reliableCheckpointDir)
    drainAfter(idxF)(merged.write.mode("overwrite").parquet(s"$clustersDir/batch=$batchId"))
  }

  /** The full streaming curation pipeline a training-data ingest
    * deploys: [[curateBatch]] CHAINED into [[clusterBatch]] as one
    * composed micro-batch job. Each batch is gated (exact
    * decontamination + seeded canonicalization + Gopher quality), the
    * kept docs land under `keptDir/batch=N`, and the SAME kept docs then
    * merge into the near-dup cluster table under `clustersDir` and index
    * themselves under `indexDir` for later batches to probe.
    *
    * Composition contract (CurateIngestSpec): streaming a corpus through
    * this job — across restarts, and under micro-batch REPLAY of either
    * half — yields the same kept set as one batch [[curateBatch]] call
    * AND the same cluster assignments as a from-scratch
    * [[graft.operators.Dedup.clusterDocs]] run over that kept set. Both
    * halves write only `batch=N` paths (overwrite), so a
    * checkpoint-recovery replay rewrites its own output end to end —
    * the at-least-once + idempotent-consumer contract of each half,
    * preserved by their composition. */
  def curateAndClusterIngest(stream: DataFrame, evalDocs: DataFrame,
      fpDir: String, keptDir: String, indexDir: String, clustersDir: String,
      checkpoint: String, threshold: Double = 0.8,
      trigger: Trigger = DefaultTrigger,
      reliableCheckpointDir: Option[String] = None): DataStreamWriter[Row] = {
    val eval = evalArtifacts(evalDocs, reliableCheckpointDir) // once per stream, not per batch
    batchLane(stream, checkpoint, trigger) { (batch, batchId) =>
      // Staged curate: both gate writes (kept + fp store) run IN
      // FLIGHT while the cluster half starts from the CACHED kept
      // frame — the same materialized rows the kept write is putting
      // under batch=N, so the halves cannot diverge (one
      // materialization feeds both sinks; a mid-batch recompute is
      // deterministic over the same inputs). Recovery keeps the
      // parquet as the contract: a replayed batch re-derives the same
      // kept set and rewrites it, and the standalone-replay path
      // (CurateIngestSpec) clusters straight from the written parquet.
      val st = curateBatchStaged(batch, eval, fpDir, keptDir, batchId)
      // the gate writes drain before the checkpoint commits (and before
      // a failure triggers a replay that rewrites their paths); the
      // batch caches are released after them
      try drainAfter(st.writes)(
        clusterBatch(st.kept, indexDir, clustersDir, batchId, threshold, reliableCheckpointDir))
      finally st.release()
    }
  }

  /** The drain rule of a batch body that leaves writes in flight: ALWAYS
    * await `writes` before leaving — a dangling write racing a replay's
    * rewrite of the same batch=N paths would corrupt the outputs — then
    * rethrow `body`'s failure if it failed, else surface the writes'. */
  private[graft] def drainAfter(writes: Future[Unit])(body: => Unit): Unit = {
    try body
    catch { case t: Throwable => Await.ready(writes, Duration.Inf); throw t }
    Await.result(writes, Duration.Inf)
  }

  /** Batch-invariant eval-set artifacts for [[curateBatch]]: the eval
    * docs' distinct shingle hashes and (source, fp) fingerprints. The
    * eval set is a FIXED bounded artifact passed to every micro-batch,
    * so a stream computes this ONCE instead of re-aggregating the eval
    * docs in every batch body — two fewer shuffle jobs per batch at an
    * identical kept set (the r10 lane-amortization pass).
    *
    * Durability (r11, the ADVICE fix): localCheckpoint blocks live on
    * executors — on a real cluster, losing the executor holding them
    * fails EVERY subsequent micro-batch (lineage is truncated, so
    * recompute is impossible) until the query is externally restarted.
    * When `reliableCheckpointDir` is set (the same option clusterBatch
    * threads to the merge path for the same hazard), the artifacts are
    * checkpointed to reliable storage instead: a lost executor re-reads
    * from the DFS. Local mode / tests keep the zero-setup
    * localCheckpoint. */
  final case class EvalArtifacts(shingles: DataFrame, fps: DataFrame,
      shinglesNonEmpty: Boolean, fpsNonEmpty: Boolean)

  def evalArtifacts(evalDocs: DataFrame,
      reliableCheckpointDir: Option[String] = None): EvalArtifacts = {
    import graft.operators.Dedup.{shingles3, tokHashesSeq}
    // Session-global effect — see Qh.setReliableCheckpointDir's contract
    // (warns on a differing pre-set dir instead of silently repointing).
    reliableCheckpointDir.foreach(d =>
      graft.Qh.setReliableCheckpointDir(evalDocs.sparkSession, d))
    val mat: DataFrame => DataFrame =
      if (reliableCheckpointDir.isDefined) _.checkpoint() else _.localCheckpoint(true)
    val evalSrc = if (evalDocs.columns.contains("source")) col("source") else lit("")
    val sh = mat(evalDocs.select(explode(shingles3(tokHashesSeq(col("text")))).as("g"))
      .distinct())
    val fps = mat(evalDocs.select(evalSrc.as("source"),
        graft.Qh.strHashWide(lower(trim(col("text")))).as("fp"))
      .distinct())
    // Emptiness decided ONCE per stream (the frames are checkpointed, so
    // isEmpty is a cheap bounds read): an empty exclusion set must not
    // cost every batch a per-doc shingle explode + distinct — the gate
    // against it is the identity.
    EvalArtifacts(sh, fps, !sh.isEmpty, !fps.isEmpty)
  }

  /** Streaming curation, one micro-batch — the ingest-time composition
    * of the batch corpus_manifest verdict, for the parts that are exact
    * and stateless-or-append-only at arrival time. `eval` is computed
    * once per stream by [[evalArtifacts]].
    *
    *  1. EXACT decontamination against a bounded eval set: any doc
    *     sharing a 3-gram shingle with the eval docs drops. This is the
    *     equi-join semantics of text_contamination, not the bloom
    *     approximation ([[decontamGate]]) — eval sets are fixed bounded
    *     artifacts, so their distinct shingle hashes broadcast.
    *  2. Exact-duplicate canonicalization: first-seen (source, fp) wins —
    *     in-batch by min doc_id, cross-batch against the persistent
    *     fingerprint store under `fpDir` (T5's sha-keyed dedup at
    *     corpus-curation semantics). The store is additionally SEEDED
    *     with the eval set's fingerprints: an eval doc's exact duplicate
    *     can never be kept, independent of the contamination/quality
    *     gates that happen to also catch it at the current thresholds
    *     (a ≥3-token exact dup shares every shingle; a shorter one
    *     fails the Gopher top-token gate — but neither masking is a
    *     contract).
    *  3. Gopher repetition-quality gate — the SAME
    *     [[graft.Qh.GopherDupMilli]]/[[graft.Qh.GopherTopMilli]]
    *     constants text_repetition and corpus_manifest interpolate.
    *
    * Kept docs land under `keptDir/batch=N`, fresh fingerprints under
    * `fpDir/batch=N` — per-batch overwrite paths with the store read
    * EXCLUDING the current batch id, so a checkpoint-recovery replay
    * rewrites its own output from its own input instead of duplicating
    * or self-matching (the [[nearDupBatch]] contract). CurateIngestSpec
    * asserts the kept set ≡ the batch manifest's
    * canonical ∧ quality ∧ ¬contaminated verdict on the same corpus, and
    * replay idempotence.
    *
    * Near-dup clustering and splits are deliberately NOT gated here:
    * they are retain-and-track surfaces ([[clusterBatch]]) whose
    * verdicts can change as clusters grow — a keep/drop decision at
    * arrival time would not be replay-stable.
    * [[curateAndClusterIngest]] chains this gate into clusterBatch for
    * the full curation pipeline. */
  def curateBatch(batch: DataFrame, eval: EvalArtifacts, fpDir: String,
      keptDir: String, batchId: Long, compactEvery: Int = CompactEvery): Unit = {
    val st = curateBatchStaged(batch, eval, fpDir, keptDir, batchId, compactEvery)
    try Await.result(st.writes, Duration.Inf)
    finally st.release()
  }

  /** The in-flight state of one staged curate micro-batch
    * ([[curateBatchStaged]]): `kept` is the MATERIALIZED (cached) kept
    * frame — row-identical to what lands under `keptDir/batch=N`,
    * because the parquet write reads the same cache — `writes` covers
    * BOTH batch writes (kept + fp store), and `release()` drops the
    * batch's caches (call after awaiting `writes` AND after the last
    * consumer of `kept`). */
  private[graft] final case class StagedCurate(kept: DataFrame,
      writes: Future[Unit], release: () => Unit)

  /** STAGED form of [[curateBatch]] for per-batch action overlap in the
    * composed lane: BOTH writes (kept set + fingerprint store) launch
    * as concurrent jobs and the kept frame is returned CACHED, so the
    * cluster half starts from the same materialized rows immediately
    * instead of waiting for the kept write and re-reading its parquet.
    * The handed-off cache cannot diverge from the written parquet: one
    * materialization feeds both (a cache-evicted partition recomputes
    * from deterministic lineage over the same inputs). The caller MUST
    * drain `writes` ([[drainAfter]]) before its batch body returns, even
    * on failure, and then call `release()`. [[curateBatch]] does both
    * internally. */
  private[graft] def curateBatchStaged(batch: DataFrame, eval: EvalArtifacts,
      fpDir: String, keptDir: String, batchId: Long,
      compactEvery: Int = CompactEvery): StagedCurate = {
    import graft.operators.Dedup.{shingles3, tokHashesSeq}
    val spark = batch.sparkSession
    // Same compaction cadence and replay argument as clusterBatch's band
    // index: ids < N are committed, a crashed attempt's batch=N rows are
    // dropped and rewritten below.
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compactFpStore(spark, fpDir, excludeBatch = Some(batchId))
    // Canonicalization runs over ALL arriving docs — contaminated and
    // quality-failed docs still claim their fingerprint (exactly the
    // manifest's semantics, where `canonical` is computed over the
    // whole corpus and the verdicts AND together): a dropped doc's
    // later re-arrival, or its exact duplicate, must not resurrect.
    val srcCol = if (batch.columns.contains("source")) col("source") else lit("")
    val fp = batch
      .select(col("doc_id"), srcCol.as("source"), col("text"))
      // 58-bit digest, in lockstep with dedup_exact/corpus_manifest (r10):
      // a 20-bit fp false-merged distinct texts and made the kept set
      // depend on arrival order whenever the colliding pair's quality
      // verdicts differed.
      .withColumn("fp", graft.Qh.strHashWide(lower(trim(col("text")))))
    // first-seen (= min doc_id) per (source, fp) as a HASH AGGREGATE, not
    // a ranking window: same rows, but partial aggregation combines
    // map-side — the window shuffles every full-text row and sorts each
    // (source, fp) partition, pure overhead when only the min survives.
    // min_by ties (duplicate doc_id redelivery) carry identical text.
    val canon = fp.groupBy(col("source"), col("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("text"), col("doc_id")).as("text"))
      .select("doc_id", "source", "text", "fp")
    // Eval fingerprints seed the dedup gate (bounded artifact →
    // broadcast): a corpus doc whose exact (source, fp) copy is an eval
    // doc is never kept — the manifest's keep verdict for such a doc is
    // always false, and without the seed that agreement would silently
    // ride on the contamination/quality gates' thresholds. Seed-dropped
    // docs need no store write: the eval set itself is the permanent
    // fingerprint claim (it is passed to every batch).
    val deduped = canon.join(readFpStore(spark, fpDir, excludeBatch = batchId),
        Seq("source", "fp"), "left_anti")
    val fresh = (if (eval.fpsNonEmpty)
        deduped.join(broadcast(eval.fps), Seq("source", "fp"), "left_anti")
      else deduped)
      .persist()
    val kept0 =
      if (!eval.shinglesNonEmpty) fresh // empty eval: nothing can contaminate
      else {
        val contaminated = fresh
          .select(col("doc_id"), explode(shingles3(tokHashesSeq(col("text")))).as("g"))
          .join(broadcast(eval.shingles), Seq("g"), "left_semi")
          .select("doc_id").distinct()
        fresh.join(contaminated, Seq("doc_id"), "left_anti")
      }
    // Gopher repetition gate as a PER-ROW filter (graft.plans
    // .TokenProfile): the (n_tok, n_dist, top_cnt) triple in one
    // map-only pass — same integers as the explode → groupBy(doc,
    // token) → groupBy(doc) aggregation this replaces, without
    // shuffling a (doc, token) pair stream that at 100 TB dwarfs the
    // corpus itself. CurateIngestSpec pins kept ≡ manifest verdict.
    val qualityOk = expr(s"(__tp[0] - __tp[1]) * 1000 div __tp[0] <= " +
      s"${graft.Qh.GopherDupMilli} AND __tp[2] * 1000 div __tp[0] <= " +
      s"${graft.Qh.GopherTopMilli}")
    val keptOut = kept0
      .withColumn("__tp", graft.plans.TokenProfile.column(split(col("text"), " ")))
      .filter(qualityOk)
      .select("doc_id", "source", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    implicit val ec: scala.concurrent.ExecutionContext = graft.Qh.ioEc
    val keptF = Future {
      keptOut.write.mode("overwrite").parquet(s"$keptDir/batch=$batchId")
    }
    // ALL fresh fingerprints persist, kept or not (see above).
    val fpF = Future {
      // stamp BEFORE the write: a crash in between leaves a stamped
      // marker-only dir (readFpStore's explicit schema reads it empty),
      // not current-fold data that requireHashVersion would refuse
      graft.Qh.stampHashVersion(spark, fpDir)
      fresh.select("source", "fp")
        .write.mode("overwrite").parquet(s"$fpDir/batch=$batchId")
    }
    StagedCurate(keptOut, graft.Qh.afterBoth(keptF, fpF), // NOT zip: zip fails fast, orphaning the partner write
      () => { fresh.unpersist(blocking = false); keptOut.unpersist(blocking = false); () })
  }

  /** Persistent fingerprint store reader for [[curateBatch]]: hive
    * batch=N partitions, rows from `excludeBatch` filtered out so a
    * replayed micro-batch never dedups against its own previous write.
    * Refuses a mid-swap tree (interrupted [[compactFpStore]]) LOUDLY —
    * reading it as an empty store would silently re-admit every
    * previously deduped document. */
  private def readFpStore(spark: SparkSession, dir: String,
      excludeBatch: Long): DataFrame = {
    if (graft.sources.Sources.fsExists(spark, s"$dir.old"))
      throw new IllegalStateException(
        s"$dir.old exists: a fingerprint-store compaction was interrupted mid-swap. " +
          "Re-run Streaming.compactFpStore on this store to roll back/complete " +
          "before reading.")
    if (graft.sources.Sources.fsExists(spark, dir)) {
      // Refuse a store fingerprinted under a different hash fold — its
      // fps would silently stop matching re-hashed text (Qh.StoreHashVersion).
      graft.Qh.requireHashVersion(spark, dir)
      spark.read
        .schema(StructType.fromDDL("source STRING, fp BIGINT, batch BIGINT"))
        .parquet(dir)
        .filter(col("batch") =!= excludeBatch).drop("batch")
    }
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL("source STRING, fp BIGINT"))
  }

  /** Compact the fingerprint store's per-batch dirs into one reserved
    * `batch=-1` generation — the [[graft.operators.Dedup.compactIndex]]
    * analog for [[curateBatch]]'s exact-dup store, which otherwise
    * accumulates one directory per micro-batch forever (the same
    * unbounded-metadata growth the band index had). Same two call
    * shapes and the same crash-safe swap protocol: maintenance
    * (excludeBatch = None, no ingest active) or in-stream cadence
    * (excludeBatch = Some(currentBatchId) at the START of batch N —
    * ids < N are committed; a leftover batch=N from a crashed attempt
    * is dropped, not compacted, and the batch rewrites it). A re-run
    * after a crash rolls the original back before compacting again, and
    * [[readFpStore]] refuses a mid-swap tree. */
  def compactFpStore(spark: SparkSession, fpDir: String,
      excludeBatch: Option[Long] = None): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(fpDir), spark.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(fpDir)
    val old = new org.apache.hadoop.fs.Path(s"$fpDir.old")
    val neu = new org.apache.hadoop.fs.Path(s"$fpDir.new")
    if (fs.exists(old)) {
      if (!fs.exists(cur))
        require(fs.rename(old, cur), s"compactFpStore: could not roll back $old")
      else fs.delete(old, true)
    }
    if (!fs.exists(cur)) return
    graft.Qh.requireHashVersion(spark, fpDir)
    fs.delete(neu, true)
    val rows = spark.read
      .schema(StructType.fromDDL("source STRING, fp BIGINT, batch BIGINT"))
      .parquet(fpDir)
    val kept = excludeBatch.fold(rows)(b => rows.filter(col("batch") =!= b))
      .drop("batch")
    // one shuffle of the store per compaction — the LSM amortized-rewrite
    // tradeoff, identical to the band-index gen; partition count follows
    // the cluster so the gen neither fragments nor funnels
    kept.repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(s"$fpDir.new/batch=-1")
    // Stamp the new generation BEFORE the renames so the activated tree
    // carries the hash-version marker atomically with the swap.
    graft.Qh.stampHashVersion(spark, s"$fpDir.new")
    require(fs.rename(cur, old), s"compactFpStore: could not move $cur aside")
    require(fs.rename(neu, cur), s"compactFpStore: could not activate $neu")
    fs.delete(old, true)
  }

  /** Latest cluster snapshot strictly below `belowBatch` (None = any).
    * Listing is one DRIVER-SIDE filesystem call over the versioned
    * `batch=N` dir names — O(#batches) metadata, the same bounded class
    * as checkpoint logs. (r11: was a Spark max-aggregate JOB over every
    * snapshot generation — one corpus-growing scan per micro-batch just
    * to find the newest dir name.) */
  def latestClusterSnapshot(spark: SparkSession, clustersDir: String,
      belowBatch: Long = Long.MaxValue): Option[DataFrame] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(clustersDir), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(clustersDir)
    if (!fs.exists(root)) None
    else {
      val ids = fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName.stripPrefix("batch=").toLong)
        .filter(_ < belowBatch)
      if (ids.isEmpty) None
      else Some(spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, cluster BIGINT"))
        .parquet(s"$clustersDir/batch=${ids.max}"))
    }
  }

  /** Record-level contract verdicts for [[contractBatch]]: append a
    * `reason` column naming the FIRST failed check (null = clean).
    * Checks are the record-level half of q67's table battery —
    * completeness (user_id), value domain (event_type ∈ `domain`),
    * range SLA (0 ≤ value ≤ `maxValue`), and in-batch key uniqueness
    * (keep-first on event_id, deterministic (ts, user_id) order).
    * Cross-batch uniqueness is deliberately NOT this gate's job: that
    * is the persistent-store pattern ([[curateBatch]]'s fingerprint
    * store / [[dedupWithinWatermark]]'s state) — a record-level gate
    * must stay a single self-contained pass so quarantine never blocks
    * on external state. Used identically by the streaming gate and the
    * batch caller, so batch ≡ stream is true by construction and
    * spec-pinned anyway (ContractGateSpec). */
  def recordChecks(df: DataFrame, domain: Seq[String],
      maxValueC: Long): DataFrame = {
    // TOTAL order within an event_id: two rows sharing (ts, user_id) but
    // differing in value/event_type must still pick the SAME survivor on
    // every run/replay, or which copy lands in quarantine flips —
    // breaking the replay-idempotence contract ContractGateSpec pins.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_id")
      .orderBy(col("ts"), col("user_id"), col("value"), col("event_type"))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("reason",
        when(col("user_id").isNull, "null_user_id")
          .when(!col("event_type").isin(domain: _*), "unknown_event_type")
          .when(col("value").isNull ||
            round(col("value") * 100).cast("long") < 0L ||
            round(col("value") * 100).cast("long") > maxValueC, "value_out_of_range")
          .when(col("__rn") > 1, "duplicate_event_id")
          .otherwise(lit(null).cast("string")))
      .drop("__rn")
  }

  /** Streaming data-quality gate (the q67 contract battery at ingest
    * time), one micro-batch: the batch is split into accepted rows
    * (`acceptedDir/batch=N`) and quarantined rows with their failure
    * reason (`quarantineDir/batch=N`) — accepted ∪ quarantine ≡ input,
    * disjoint, so NOTHING is silently dropped: bad records stay
    * replayable once the upstream bug is fixed (the dead-letter-queue
    * shape every production ingest needs). Per-batch overwrite paths
    * make checkpoint-recovery replays rewrite rather than duplicate
    * (the [[nearDupBatch]] idempotence contract). */
  def contractBatch(batch: DataFrame, domain: Seq[String], maxValueC: Long,
      acceptedDir: String, quarantineDir: String, batchId: Long): Unit = {
    val v = recordChecks(batch, domain, maxValueC).persist()
    try {
      v.filter(col("reason").isNull).drop("reason")
        .write.mode("overwrite").parquet(s"$acceptedDir/batch=$batchId")
      v.filter(col("reason").isNotNull)
        .write.mode("overwrite").parquet(s"$quarantineDir/batch=$batchId")
    } finally { v.unpersist(); () }
  }

  /** Streaming sketch maintenance, one micro-batch — the ingest half of
    * q61's build-once/merge-cheap contract: the batch's per-(event_type,
    * day) HLL user sketches (plus exact event counts) land under
    * `sketchDir/batch=N`, and ANY later rollup window is a cheap union of
    * those 12-KB states ([[sketchTotals]]) instead of a re-scan of the
    * raw stream. HLL union is a register-wise max — a commutative,
    * idempotent lattice join — so the read-side estimate is independent
    * of batch boundaries and merge order; per-batch overwrite paths keep
    * checkpoint-recovery replays idempotent (the [[nearDupBatch]]
    * contract). At 100 TB this is how a distinct-users dashboard stays
    * O(types × days × 12 KB) while the event stream is unbounded. */
  def sketchBatch(batch: DataFrame, sketchDir: String, batchId: Long): Unit =
    batch
      .select(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"),
        col("user_id"))
      .groupBy("event_type", "day")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
        count(lit(1)).as("n_events"))
      .write.mode("overwrite").parquet(s"$sketchDir/batch=$batchId")

  /** Merge every persisted daily sketch to per-type distinct-user
    * estimates + exact event counts (the q61 read shape over the
    * streaming store). */
  def sketchTotals(spark: SparkSession, sketchDir: String): DataFrame =
    spark.read.parquet(sketchDir)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("approx_users"),
        sum(col("n_events")).as("n_events"))
      .orderBy("event_type")

  /** Streaming materialized-join maintenance, one micro-batch — the
    * ingest half of q90's delta-join algebra. Each micro-batch of fact
    * rows (orders shape: `o_orderkey, o_custkey, o_totalprice`) is
    * joined against the
    * CURRENT dim snapshot under `dimDir` and materialized under
    * `viewDir/batch=N`; the view is the union of batch partitions, and
    * the q90 algebra guarantees it equals the one-shot join of
    * everything ingested against a static dim. Because every batch
    * re-reads the snapshot, dim UPDATES between batches are captured
    * with arrival-time consistency: each fact carries the dim row as of
    * its own micro-batch (the streaming-enrichment contract; full
    * history tracking is q51's SCD2, not this). Per-batch overwrite
    * paths keep checkpoint-recovery replays idempotent (the
    * [[nearDupBatch]] contract) — with the explicit caveat that a
    * REPLAYED batch re-reads the dim snapshot as of RECOVERY time, so
    * replay is byte-identical only while the dim is unchanged between
    * the original run and the recovery; if the dim moved in between,
    * the replayed batch carries the newer dim rows (still
    * arrival-time-consistent, just a later arrival). At scale each batch is one
    * broadcast/shuffle join of BATCH-sized facts — the unbounded fact
    * history is never re-joined. */
  def ivmJoinBatch(batch: DataFrame, dimDir: String, viewDir: String,
      batchId: Long): Unit = {
    val dim = batch.sparkSession.read.parquet(dimDir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    batch
      .select(col("o_orderkey"), col("o_custkey"),
        graft.Qh.cents(col("o_totalprice")).as("v"))
      .join(dim, Seq("o_custkey"))
      .write.mode("overwrite").parquet(s"$viewDir/batch=$batchId")
  }

  /** Read the maintained view as q90's verification rollup (per-segment
    * exact count + cents). */
  def ivmJoinView(spark: SparkSession, viewDir: String): DataFrame =
    spark.read.parquet(viewDir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_c"))
      .orderBy("c_mktsegment")

  /** Streaming distribution-drift monitor, one micro-batch — q97's
    * ingest half. Each micro-batch's value histogram (the q97 fixed
    * 20-bucket cent grid: cents div 1000 clamped to [0, 19]) is
    * materialized under `histDir/batch=N`; the LIVE distribution is
    * the per-bucket SUM across batch partitions (counts are a
    * commutative monoid, so the read side is batch-boundary- and
    * merge-order-independent, the [[sketchBatch]] lattice argument),
    * and [[driftStatus]]/[[driftAlarm]] compare it against a frozen
    * reference histogram as exact total-variation ppm. Per-batch
    * overwrite paths keep checkpoint-recovery replays idempotent (the
    * [[nearDupBatch]] contract). At 100 TB the store is
    * O(batches × 20 rows) and the unbounded stream is never re-scanned
    * — the drift gate a training pipeline leaves running between
    * corpus refreshes, now with per-micro-batch freshness. */
  def driftBatch(batch: DataFrame, histDir: String, batchId: Long): Unit =
    batch
      .select(graft.Qh.cents(col("value")).as("c"))
      .withColumn("bucket",
        least(lit(19L), greatest(lit(0L), expr("c div 1000"))))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$histDir/batch=$batchId")

  /** The live-vs-reference drift grid (q97's output shape): one row per
    * bucket on a full-outer grid — a bucket present on only one side
    * surfaces with an explicit 0 share, never silently dropped. The
    * reference under `refDir` is a frozen (bucket, n) histogram — e.g.
    * one [[driftBatch]] partition of the blessed corpus snapshot. */
  def driftStatus(spark: SparkSession, histDir: String, refDir: String): DataFrame = {
    val live = spark.read.parquet(histDir)
      .groupBy("bucket").agg(sum(col("n")).as("n_live"))
    val ref = spark.read.parquet(refDir)
      .groupBy("bucket").agg(sum(col("n")).as("n_ref"))
    val grid = live.join(ref, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("n_live"), lit(0L)).as("n_live"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"))
      .localCheckpoint() // ≤20 rows; totals must not re-read the stores
    val tot = grid.agg(sum(col("n_live")).as("t_live"), sum(col("n_ref")).as("t_ref"))
    grid.crossJoin(broadcast(tot))
      .withColumn("share_live_ppm", expr("n_live * 1000000 div t_live"))
      .withColumn("share_ref_ppm", expr("n_ref * 1000000 div t_ref"))
      .withColumn("abs_diff_ppm",
        abs(col("share_live_ppm") - col("share_ref_ppm")))
      .select(col("bucket"), col("n_live"), col("n_ref"),
        col("share_live_ppm"), col("share_ref_ppm"), col("abs_diff_ppm"))
      .orderBy("bucket")
  }

  /** 1-row drift verdict: exact TV ppm (half the |Δ| sum) + alarm. */
  def driftAlarm(spark: SparkSession, histDir: String, refDir: String,
      alarmPpm: Long = 200000L): DataFrame =
    driftStatus(spark, histDir, refDir)
      .agg((sum(col("abs_diff_ppm")) / 2).cast("long").as("tv_ppm"))
      .withColumn("alarm", col("tv_ppm") > alarmPpm)

  /** Streaming order-2 path mining — q112's stateful stream twin: per
    * user, the state is the LAST TWO events (ts, event_id, type), and
    * each arriving event that has two predecessors emits one trigram
    * row — constant state per key regardless of stream length (the
    * sliding-window-of-2 contract, vs. buffering the whole history).
    *
    * Ordering contract: per-user in-order delivery (the reference's
    * Kafka key-partitioned feed guarantees exactly this). Within a
    * micro-batch rows are sorted by (ts, event_id); ACROSS batches a
    * row at or before the state's high-water (ts, event_id) mark is
    * dropped — which makes at-least-once REDELIVERY idempotent (a
    * replayed batch emits nothing) and quietly drops genuinely-late
    * cross-batch stragglers rather than emitting out-of-order trigrams
    * (documented trade; a late-tolerant variant would watermark+buffer,
    * the [[intervalJoin]] class). Batch ≡ stream at any split under the
    * ordered-feed contract is spec-pinned (StreamPathSpec), like
    * [[ivmJoinBatch]]/[[driftBatch]].
    *
    * Scale: state is 2 small tuples PER USER KEY EVER SEEN when
    * `idleTtl = None` (the default) — fine for bounded keyspaces, but on
    * an unbounded stream the store grows with total user cardinality,
    * not active users; that is the explicit trade of keeping the
    * high-water mark forever. Pass `idleTtl = Some("24 hours")` (the
    * reference's TTL discipline, T7) to EVICT idle keys via a
    * processing-time timeout, bounding state by the TTL-window-active
    * cardinality. The eviction trade, equally explicit: a user returning
    * after the TTL restarts the sliding window (their first two post-gap
    * events emit no trigram — usually right, the gap IS a session
    * break), and redelivery older than the TTL is no longer deduped by
    * the high-water mark (upstream replay horizons are hours, not days).
    * Operational note: with a timeout registered, Spark schedules an
    * empty micro-batch on EVERY trigger (timers may always fire), so
    * `noNewData` is never signaled and `processAllAvailable` NEVER
    * RETURNS — triggered or not (jstack-verified, StreamPathSpec). Run
    * the query on a real processing-time trigger and observe it by
    * deadline-bounded polling of the sink and state metrics, never by
    * awaiting.
    * Emission is map-side (no shuffle beyond the groupByKey hash) — the
    * standard mapGroupsWithState topology at any fan-in. */
  def pathTrigramIngest(stream: DataFrame,
      idleTtl: Option[String] = None): DataFrame = {
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val keyed = stream
      .select(col("user_id").cast("long").as("u"),
        unix_micros(col("ts")).as("tus"),
        col("event_id").cast("long").as("eid"),
        col("event_type").cast("string").as("et"))
      .as[(Long, Long, Long, String)]
    val timeoutConf =
      if (idleTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long, String)], (Long, String)](
        OutputMode.Append, timeoutConf) {
        case (u, rows, state: GroupState[List[(Long, Long, String)]]) =>
          if (state.hasTimedOut) { // idle past TTL: evict, emit nothing
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(Nil) // last ≤2, ascending
            val hw = prev.lastOption.map(p => (p._1, p._2))
            val news = rows.map(r => (r._2, r._3, r._4)).toVector
              .sortBy(r => (r._1, r._2))
              .filter(r => hw.forall(h =>
                r._1 > h._1 || (r._1 == h._1 && r._2 > h._2)))
            val all = prev.toVector ++ news
            val out = (math.max(2, prev.size) until all.size)
              .map(i => (u, s"${all(i - 2)._3}>${all(i - 1)._3}>${all(i)._3}"))
            state.update(all.takeRight(2).toList)
            idleTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
      .toDF("user_id", "path")
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One engine query: a Spark build function plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB as the correctness
  * oracle. Column names/types must match between the two exactly.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** Shared expression helpers.
  *
  * Numeric-parity discipline (Spark vs DuckDB — see SURVEY.md §7.4 risk 3):
  *  - Money columns in the testdata carry exactly 2 decimals, so we sum in
  *    integer cents / basis points: order-independent, bit-identical across
  *    engines, and the final `CAST(sum AS DOUBLE)/100.0` division is the
  *    same IEEE op on the same integer in both engines.
  *  - Never `round(x, k)` with k < 2: binary doubles cannot tie at >=2
  *    decimals, so HALF_UP (Spark) vs HALF_EVEN differences cannot bite.
  *  - Sort keys are always unique and never NULL (explicit `NULLS FIRST`
  *    where a nullable key is unavoidable).
  */
object Qh {
  /** Modulus for the deterministic polynomial token hash (prime ~1e6). */
  val HashP = 1000003L

  /** Modulus for WINDOW rolling hashes (dedup_substring family): the
    * largest prime P with 31·(P−1) + maxTokenHash < 2^63−1, so the
    * rolling fold `h·31 + x mod P` stays exact in signed 64-bit in BOTH
    * engines — ANSI Spark throws on long overflow and DuckDB BIGINT
    * errors too, so "unreduced 64-bit wraparound" is not portable; a
    * ~2^58 prime is the largest exactly-mirrorable state. Collision
    * precision: for W total windows corpus-wide, expected cross-window
    * collisions ≈ W²/2P — ~1.7e8 on a 10^13-window (100 TB) corpus,
    * i.e. a ~2e-5 false-positive rate, vs ~certainty at the ~20-bit
    * [[HashP]] this replaced. */
  val WinHashP = 297528130221057283L

  /** Gopher-style repetition-quality thresholds, exact integer permille:
    * a document passes when its duplicate-token mass (n_tok - n_distinct)
    * is at most [[GopherDupMilli]]‰ of n_tok AND its most frequent token
    * is at most [[GopherTopMilli]]‰ of n_tok. Declared here (dependency-
    * free object) and interpolated by BOTH text_repetition and
    * corpus_manifest — Spark exprs and oracle texts alike — so the two
    * queries can never drift apart on a threshold change. Kept in Qh, not
    * TextOps/Dedup, because those objects' `defs` reference each other's
    * helpers: a constant living in either would be read mid-init (as 0)
    * by the other, silently corrupting the interpolated oracle SQL. */
  val GopherDupMilli = 500L
  val GopherTopMilli = 100L

  /** One integer `spark.graft.*` session key (README "Configuration").
    * Operator code reads keys only through [[get]], before its first job:
    * a non-integer value, or one outside `[floor, ceiling]`, fails with an
    * IllegalArgumentException naming the key. */
  final case class Knob(key: String, default: Long, floor: Long = 0L,
      ceiling: Long = Int.MaxValue) {
    def get(s: SparkSession): Long = {
      val raw = s.conf.get(key, default.toString)
      val v = raw.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$key=$raw is not an integer"))
      require(v >= floor && v <= ceiling, s"$key=$v is outside [$floor, $ceiling]")
      v
    }
  }

  // Input bounds: past each, the query fails instead of running a
  // quadratic or unbounded-memory step.
  val MaxDocs = Knob("spark.graft.q28a.maxDocs", 100000L)
  val BasketMaxItems = Knob("spark.graft.basket.maxItems", 1024L)
  val MaxBucket = Knob("spark.graft.dedup.maxBucket", 262144L)
  val MaxEvalShingles = Knob("spark.graft.bloom.maxEvalShingles", 50000000L)
  // Dedup thresholds. A hot bucket splits S ways into S² task ids, so S²
  // must fit an Int; the local graph cap feeds collectIfBounded's bound.
  val SliceThreshold = Knob("spark.graft.dedup.sliceThreshold", 4096L)
  val BucketSlices = Knob("spark.graft.dedup.bucketSlices", 8L, floor = 1L, ceiling = 46340L)
  val LocalGraphCap = Knob("spark.graft.merge.localGraphCap", 65536L, ceiling = 1L << 22)

  def tbl(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** THE sanctioned driver-side read. Every `.collect()` / `.head()` in
    * operator code must go through [[boundedCollect]] / [[boundedHead]]:
    * the call declares its structural cap and the reason it is a
    * control-plane read (bucket offsets, band-pair prune sets, 1-row
    * bounds/argmaxes, nlist centroid tables), fetches cap+1 rows, and
    * raises loudly the moment the read turns out to be data-plane sized —
    * the same fail-loud discipline as [[requireBoundedBaskets]] and the
    * [[MaxDocs]] guard. Until r10 every site was bounded
    * by INSPECTION only; nothing stopped entry #222 from collecting a
    * table. CollectGateSpec's grep sweep now forbids raw collects in
    * operator sources, so the bound is structural across rounds. */
  def boundedCollect(df: DataFrame, cap: Int, why: String): Array[org.apache.spark.sql.Row] = {
    require(cap >= 1 && cap <= (1 << 22),
      s"boundedCollect($why): cap $cap is not a sane control-plane bound")
    val rows = df.limit(cap + 1).collect() // the ONE sanctioned raw collect (boundedCollect impl)
    if (rows.length > cap) throw new IllegalStateException(
      s"boundedCollect($why): driver-side read exceeded its declared $cap-row bound — " +
        "that is a data-plane read, not control-plane. Pre-aggregate harder or " +
        "consciously declare a bigger bound.")
    rows
  }

  /** Bounded-or-nothing driver read: Some(rows) when the frame fits the
    * cap, None when it does not — for HYBRID operators with a guarded
    * small-input fast path and a distributed fallback (the mergeClusters
    * micro-graph union-find). Same discipline as [[boundedCollect]]; the
    * only difference is that exceeding the cap selects the fallback
    * instead of raising, because here a big input is a legitimate state,
    * not a bug. */
  def collectIfBounded(df: DataFrame, cap: Int, why: String): Option[Array[org.apache.spark.sql.Row]] = {
    require(cap >= 0 && cap <= (1 << 22),
      s"collectIfBounded($why): cap $cap is not a sane control-plane bound")
    val rows = df.limit(cap + 1).collect() // the 2nd sanctioned raw collect (collectIfBounded impl)
    if (rows.length > cap) { fallbackCount.incrementAndGet(); None } else Some(rows)
  }

  /** Test observability for hybrid operators: [[collectIfBounded]] calls
    * that exceeded their cap and selected the distributed fallback.
    * OverCapFallbackSpec uses it to prove the over-cap path genuinely ran
    * at the DEFAULT cap on an organically oversized input (MergeHybridSpec
    * only pins path equivalence with the cap forced to 0).
    *
    * THREAD-LOCAL, not process-global (r11 ADVICE): collectIfBounded is a
    * synchronous driver-side read, so the increment always lands on the
    * operator's CALLING thread — a spec asserting on a before/after delta
    * can never observe a fallback from another concurrently running suite
    * or from a stream-execution thread, which the previous global
    * AtomicLong made possible under any parallel-suite runner. */
  object fallbackCount {
    private val tl = ThreadLocal.withInitial[java.lang.Long](() => 0L)
    def get(): Long = tl.get()
    def incrementAndGet(): Long = { val v = tl.get() + 1L; tl.set(v); v }
  }

  /** 1-row driver read (global-aggregate bounds, limit(1) argmax). Raises
    * on an empty frame — callers that tolerate empties use
    * `boundedCollect(df, 1, why)` and check. */
  def boundedHead(df: DataFrame, why: String): org.apache.spark.sql.Row = {
    val rows = boundedCollect(df, 1, why)
    if (rows.isEmpty) throw new IllegalStateException(
      s"boundedHead($why): expected one row, got none")
    rows(0)
  }

  /** Hash-semantics version of every PERSISTED fingerprint/band store
    * (the dedup band index and the streaming curate fp store). Bumped
    * whenever the persisted hash fold changes — v2 is the r11
    * code-point [[graft.plans.PolyHash]] fold; v1 was the pre-r11
    * UTF-16 charAt fold. The guard exists because a fold change is
    * SILENT at read time: a store hashed under the old fold simply
    * stops matching re-hashed duplicates on non-BMP text, so dedup
    * quietly re-admits documents. Writers stamp `_graft_hash_v` into
    * the store root ([[stampHashVersion]]); readers refuse a store
    * whose stamp is missing or mismatched ([[requireHashVersion]]),
    * mirroring the loud missing-column guard in
    * [[graft.operators.Dedup]]'s readIndexTable. The underscore prefix
    * keeps the marker invisible to Spark's parquet file discovery. */
  val StoreHashVersion = 2

  private val HashVersionFile = "_graft_hash_v"

  private def storeFs(spark: SparkSession, dir: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  /** Stamp `dir` (a persisted hash store root) with the CURRENT hash
    * version. Idempotent; call after every store write — including
    * after a compaction swap, which replaces the stamped directory
    * with a freshly written one. */
  def stampHashVersion(spark: SparkSession, dir: String): Unit = {
    val fs = storeFs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir, HashVersionFile)
    if (!fs.exists(p)) {
      val out = fs.create(p, true)
      try out.write(s"$StoreHashVersion\n".getBytes("UTF-8")) finally out.close()
    }
  }

  /** Refuse (loudly) a persisted hash store written under a different
    * — or unstamped, i.e. pre-stamping — hash fold. A missing/absent
    * store is fine: the caller is about to create it. */
  def requireHashVersion(spark: SparkSession, dir: String): Unit = {
    val fs = storeFs(spark, dir)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir))) return
    val p = new org.apache.hadoop.fs.Path(dir, HashVersionFile)
    val found: Option[Int] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](32)
          val n = in.read(buf)
          scala.util.Try(new String(buf, 0, math.max(n, 0), "UTF-8").trim.toInt).toOption
        } finally in.close()
      }
    if (!found.contains(StoreHashVersion)) throw new IllegalStateException(
      s"$dir was written under hash-fold version ${found.map(_.toString).getOrElse("<unstamped, pre-v2>")} " +
        s"but this engine hashes under version $StoreHashVersion " +
        "(the code-point PolyHash fold): stored fingerprints would silently stop " +
        "matching re-hashed duplicates. Rebuild the store by replaying ingest " +
        "into a fresh directory.")
  }

  /** Point the SESSION-GLOBAL RDD checkpoint directory at `dir` — the
    * durability seam for reliable (DFS) checkpointing of stream-lifetime
    * artifacts (Streaming.evalArtifacts, Dedup.mergeCore).
    *
    * `SparkContext.setCheckpointDir` is CONTEXT-WIDE state: every later
    * `.checkpoint()` caller on the session inherits it, and two
    * concurrent streams configured with DIFFERENT reliable dirs race
    * last-wins. Every in-repo caller threads one dir per session, which
    * is why this is correct today; this helper makes the session-global
    * effect loud instead of silent — it WARNS on stderr when a
    * different dir is already set before repointing. It also skips the
    * re-set when the dir is unchanged: setCheckpointDir mkdirs a fresh
    * UUID subdirectory per call, which on a per-micro-batch caller
    * (mergeCore) litters the DFS with one empty dir per batch. */
  def setReliableCheckpointDir(spark: SparkSession, dir: String): Unit = {
    val sc = spark.sparkContext
    val p = new org.apache.hadoop.fs.Path(dir)
    val qualified = p.getFileSystem(sc.hadoopConfiguration).makeQualified(p)
    sc.getCheckpointDir match {
      // setCheckpointDir stores <dir>/<uuid> qualified — compare parents
      case Some(cur) if new org.apache.hadoop.fs.Path(cur).getParent == qualified =>
        () // already pointed here; keep the existing UUID subdir
      case Some(cur) =>
        System.err.println(s"[graft] WARNING: repointing the SESSION-GLOBAL RDD " +
          s"checkpoint dir from $cur to $qualified. SparkContext.setCheckpointDir " +
          "is context-wide: concurrent streams with different reliableCheckpointDirs " +
          "race last-wins, and every later .checkpoint() on this session inherits " +
          "the new dir. Run one reliable dir per session.")
        sc.setCheckpointDir(dir)
      case None => sc.setCheckpointDir(dir)
    }
  }

  /** Shared daemon pool for OVERLAPPING INDEPENDENT per-micro-batch
    * writes (streaming curate/cluster lane). A micro-batch's cost at
    * ingest cadence is dominated by the count of SERIAL Spark actions ×
    * fixed per-action latency (planning + scheduling), not data volume;
    * writes with no data dependency (the fp-store write vs the cluster
    * merge, the bands/sigs index writes vs the cluster snapshot) run as
    * concurrent jobs — Spark's scheduler interleaves them onto free
    * slots on a real cluster exactly as on local[N]. Every future is
    * awaited before the batch body returns, so the checkpoint commit
    * still covers all of the batch's writes (the replay contract is
    * unchanged: any subset of batch=N outputs left by a crash is
    * rewritten by the replay, which excludes batch N from every read). */
  private[graft] lazy val ioEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-io"); t.setDaemon(true); t
      }))

  /** Completes only after BOTH futures complete (success or failure),
    * then surfaces the first failure — unlike `Future.zip`, which
    * FAILS FAST: a zip that fails while its partner write is still in
    * flight would let the batch body return (and a replay REWRITE the
    * partner's batch=N path) with the orphaned write still running —
    * exactly the dangling-write race the await-before-return contract
    * exists to prevent. */
  private[graft] def afterBoth(a: scala.concurrent.Future[Unit],
      b: scala.concurrent.Future[Unit]): scala.concurrent.Future[Unit] = {
    implicit val ec: scala.concurrent.ExecutionContext = ioEc
    a.transformWith { ra =>
      b.transformWith { rb =>
        scala.concurrent.Future.fromTry(for { _ <- ra; _ <- rb } yield ())
      }
    }
  }

  /** A fresh per-process temp directory `<tmp>/<prefix>NNN` for
    * process-lifetime memo tables (clusters, layouts, IVF-PQ indexes),
    * removed with everything under it by a JVM shutdown hook so the
    * tables never outlive the process that wrote them. */
  def processTempRoot(prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(root.toFile)))
    root.toString
  }

  /** Delete `f` and everything under it. A symlink is deleted as a link,
    * never followed into its target directory; an unlistable directory
    * (`listFiles` → null) is skipped, and its own delete then fails
    * quietly. */
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath)) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteTree)
    }
    f.delete(): Unit
  }

  /** Exact integer cents of a 2-decimal money column. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact revenue in basis points: cents * (100 - discount%). */
  def revenueBp(price: Column, discount: Column): Column =
    cents(price) * (lit(100L) - cents(discount))

  /** Deterministic polynomial rolling hash of a string, mod HashP —
    * a native codegen'd Expression ([[graft.plans.PolyHash]]).
    * Identical fold in DuckDB:
    * list_reduce(list_prepend(CAST(0 AS BIGINT),
    *   list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT))),
    *   (h, c) -> (h*31 + c) % 1000003)
    */
  def strHash(c: Column): Column = graft.plans.PolyHash.column(c)

  /** The declarative formulation of [[strHash]] (same values; kept for the
    * native-expression parity test). */
  def strHashDecl(c: Column): Column =
    aggregate(split(c, ""), lit(0L), (h, ch) => pmod(h * 31 + ascii(ch), lit(HashP)))

  /** SQL fragment computing the same hash for a token expression `e`. */
  def strHashSql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(h, c) -> (h*31 + c) % ${HashP})"

  /** 58-bit WIDE polynomial string digest (same fold, mod [[WinHashP]]) —
    * for ROW DIGESTS where [[strHash]]'s ~20-bit modulus collides at
    * scale (a q62 anti-entropy pass mis-reports a changed row 'unchanged'
    * at ~1e-6 per changed row under mod 1e6, vs ~3.4e-18 here). Exact in
    * signed 64-bit in both engines by the [[WinHashP]] construction. */
  def strHashWide(c: Column): Column = graft.plans.PolyHash58.column(c)

  /** DuckDB fragment for [[strHashWide]]. */
  def strHashWideSql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(h, c) -> (h*31 + c) % ${WinHashP})"

  /** Distinct whitespace tokens of `text`. */
  def toks(c: Column): Column = array_distinct(split(c, " "))

  /** Refuse to run a basket self-join whose widest basket exceeds
    * `spark.graft.basket.maxItems` (default 1024). The basket pair
    * explode is O(Σ basket²) — linear in baskets only while baskets stay
    * small, so ONE pathological 10⁴-item basket emits 10⁸ pairs on its
    * own: at 100× corpus scale an invisible detonation no timing at toy
    * scale would surface. The check is one hash agg + a 1-row driver
    * read over the (already checkpointed) presence frame — control-plane
    * cost — and mirrors the `spark.graft.q28a.maxDocs` guard discipline:
    * fail loudly, name the config, let a deliberate wide-basket run
    * raise it consciously rather than silently quadrupling a shuffle. */
  /** r14: returns the BASKET COUNT (distinct `key` values) read from the
    * same rollup the guard already aggregates — callers that also need
    * n_orders (q102's support/lift denominators) fold what was a second
    * full countDistinct pass into this one. */
  def requireBoundedBaskets(s: SparkSession, pres: DataFrame, key: String,
      query: String): Long = {
    val cap = BasketMaxItems.get(s)
    val m = boundedHead(pres.groupBy(col(key)).agg(count(lit(1)).as("c"))
      .agg(max(col("c")), count(lit(1))),
      s"$query basket-width bound (global aggregate)")
    if (!m.isNullAt(0) && m.getLong(0) > cap)
      throw new IllegalArgumentException(
        s"$query: widest basket carries ${m.getLong(0)} items, past " +
          s"spark.graft.basket.maxItems=$cap — the basket self-join would " +
          "explode quadratically on it. Raise the cap only for a " +
          "deliberate wide-basket run.")
    m.getLong(1)
  }

  /** Broadcast `df` when its row count is provably small (r14, guide
    * §3.1): checkpointed intermediates are LogicalRDDs with NO stats, so
    * Catalyst sort-merge-joins them even when one side is a bounded
    * rollup (a part-catalog size table, a node-sized rank table) and the
    * other a corpus-scale stream — re-shuffling and sorting the big side
    * for nothing. Callers pass a row bound that is a FREE read off an
    * already-materialized frame (its own count, or a conservative proxy
    * like the edge-list count); at or under [[BroadcastRows]] (8M rows
    * ≈ 200 MB built relation, well inside the 8 GB / 512M-row broadcast
    * cap) the side is broadcast and the big side is never exchanged;
    * above it the former shuffle-join shape stands — the decision
    * self-disables at 100 TB scale. */
  def bcastIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastRows) broadcast(df) else df

  /** Row bound under which [[bcastIfSmall]] broadcasts. */
  val BroadcastRows = 8000000L

  /** A frame carrying a freshly computed global row number plus the total
    * row count n (known driver-side from the same bounds pass, so exact
    * ntile arithmetic needs no extra job). */
  final case class Ranked(df: DataFrame, n: Long)

  /** Distributed global row_number over the total order `(value ASC, tie
    * ASC)` — the scale-safe replacement for an unpartitioned WindowExec
    * (which funnels the whole table through ONE task). Same two-pass
    * bucketed prefix-sum shape as `TextOps.packSequences`:
    *
    *  1. ONE bounds pass: min/max of `value` and `tie`, and n.
    *  2. Deterministic fixed-width bucketing on a single long sort proxy.
    *     When `(span(value)+1) * (span(tie)+1)` fits in 62 bits the proxy
    *     is the COMPOSITE `(value-lo)*(tieSpan) + (tie-tieLo)` — exactly
    *     order-isomorphic to `(value, tie)` and immune to tie skew (a
    *     quintile key like order-frequency has ~50 distinct values; value-
    *     only buckets would put hundreds of millions of tied rows in one
    *     task at 100 TB, while the composite spreads them by the unique
    *     tie key). Wide-domain values (e.g. money) overflow the composite
    *     and fall back to value-only buckets — there ties are negligible
    *     by construction.
    *  3. Per-bucket counts → driver-side exclusive prefix offsets
    *     (bounded: ≤ `nBuckets` rows, default [[RankBuckets]], a
    *     control-plane read of the same class as the dedup prune sets).
    *  4. Bucket-local row_number (WindowExec keyed by bucket — parallel)
    *     + broadcast offset = the global row number.
    *
    * `value` and `tie` must be long-valued and non-null, and `tie` must
    * make the order total (unique); descending order = pass the negated
    * column. Determinism across the two passes needs `df` deterministic
    * (all graft inputs are); callers with expensive lineage should
    * `localCheckpoint()` first. */
  def globalRowNumber(df: DataFrame, value: Column, tie: Column,
      out: String): Ranked =
    globalRowNumbers(df, Seq(value -> out), tie)

  /** Default bucket count of [[globalRowNumbers]]. */
  val RankBuckets = 256L

  /** Fused multi-metric [[globalRowNumber]] (r14 optimization round): N
    * independent global row numbers over the SAME frame and tie key in
    * exactly TWO control-plane jobs instead of 2·N — one bounds aggregate
    * covering every metric, and one bucket-count aggregate over the
    * union of all metrics' bucket ids (an explode of N 16-byte structs
    * per row, partially aggregated map-side). The per-bucket offset is
    * attached as a literal-map lookup (≤ `nBuckets` entries, codegen
    * `element_at`) rather than the former broadcast join — one less join
    * per metric in the plan. Per-metric bucketing, window and rn
    * arithmetic are verbatim the single-metric formulas, so each output
    * column is bit-identical to a standalone call, at any `nBuckets`. */
  def globalRowNumbers(df: DataFrame, metrics: Seq[(Column, String)],
      tie: Column, nBuckets: Long = RankBuckets): Ranked = {
    import org.apache.spark.sql.expressions.Window
    val m = metrics.length
    // the bucket-offset read below is bounded by nBuckets·m rows, which
    // must fit boundedCollect's control-plane bound — checked up front,
    // in Long, before any job runs
    require(nBuckets >= 1L && nBuckets * m <= (1L << 22),
      s"globalRowNumbers: nBuckets=$nBuckets with $m ranked metric(s) needs " +
        s"${nBuckets * m} bucket-offset rows, past the ${1L << 22}-row bound of the " +
        "driver-side offset read; pass fewer buckets")
    var tagged = df.withColumn("__grk_t", tie.cast("long"))
    metrics.zipWithIndex.foreach { case ((v, _), i) =>
      tagged = tagged.withColumn(s"__grk_v$i", v.cast("long")) }
    val boundAggs = metrics.indices.flatMap(i =>
      Seq(min(col(s"__grk_v$i")), max(col(s"__grk_v$i")))) ++
      Seq(min(col("__grk_t")), max(col("__grk_t")), count(lit(1)))
    val b = boundedHead(tagged.agg(boundAggs.head, boundAggs.tail: _*),
      "globalRowNumber bounds (global aggregate)")
    val n = b.getLong(2 * m + 2)
    if (n == 0L) {
      var empty = tagged.drop("__grk_t")
      metrics.zipWithIndex.foreach { case ((_, out), i) =>
        empty = empty.drop(s"__grk_v$i").withColumn(out, lit(0L)) }
      return Ranked(empty, 0L)
    }
    val (loT, hiT) = (b.getLong(2 * m), b.getLong(2 * m + 1))
    val tieSpan = BigInt(hiT) - BigInt(loT) + 1
    metrics.indices.foreach { i =>
      val (loV, hiV) = (b.getLong(2 * i), b.getLong(2 * i + 1))
      val composite = (BigInt(hiV) - BigInt(loV) + 1) * tieSpan
      val (key, span) =
        if (composite < BigInt(1L << 62))
          ((col(s"__grk_v$i") - loV) * tieSpan.toLong + (col("__grk_t") - loT),
            composite)
        else (col(s"__grk_v$i") - loV, BigInt(hiV) - BigInt(loV) + 1)
      // width = ceil(span/nBuckets) so bucket ids stay < nBuckets
      val width = math.max(1L, ((span - 1) / nBuckets + 1).toLong)
      tagged = tagged.withColumn(s"__grk_k$i", key)
        .withColumn(s"__grk_b$i", expr(s"__grk_k$i div ${width}L"))
    }
    val counts = boundedCollect(
      tagged.select(explode(array(metrics.indices.map(i =>
          struct(lit(i).as("m"), col(s"__grk_b$i").as("b"))): _*)).as("mb"))
        .groupBy(col("mb.m").as("m"), col("mb.b").as("b")).count(),
      (nBuckets * m).toInt, "globalRowNumber bucket offsets")
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    metrics.zipWithIndex.foreach { case ((_, out), i) =>
      val offMap = {
        val totals = counts.collect { case (`i`, bkt, cnt) => (bkt, cnt) }
          .sortBy(_._1)
        var acc = 0L
        totals.map { case (bkt, cnt) => val o = (bkt, acc); acc += cnt; o }
      }.toMap
      val wLocal = Window.partitionBy(s"__grk_b$i")
        .orderBy(col(s"__grk_k$i"), col("__grk_t"))
      tagged = tagged
        .withColumn(out, row_number().over(wLocal).cast("long") +
          element_at(typedLit(offMap), col(s"__grk_b$i")))
        .drop(s"__grk_v$i", s"__grk_k$i", s"__grk_b$i")
    }
    Ranked(tagged.drop("__grk_t"), n)
  }

  /** Exact SQL `ntile(k)` from a 1-based global row number over `n` rows:
    * the first `n mod k` tiles get `n div k + 1` rows, the rest `n div k`
    * — the standard semantics Spark and DuckDB share, reproduced in pure
    * integer arithmetic so the distributed row number composes into
    * oracle-exact tiles. */
  def ntileFromRn(rn: String, n: Long, k: Long): Column = {
    val q = n / k
    val r = n % k
    if (q == 0L) col(rn)
    else expr(s"CASE WHEN $rn <= ${(q + 1) * r}L " +
      s"THEN ($rn - 1) div ${q + 1}L + 1 " +
      s"ELSE ${r}L + ($rn - ${(q + 1) * r}L - 1) div ${q}L + 1 END")
  }

  /** Exact `percentile(v, p)` battery from a counted value-domain rollup
    * (the q59_robust_scale playbook, r14 optimization round).
    *
    * Spark's `percentile` is an ObjectHashAggregate: every row feeds an
    * interpreted per-group OpenHashMap[value, count], the partial maps are
    * serialized across the exchange, and the final merge + sort of a
    * group's ENTIRE value map runs in the single reducer task that owns
    * the group — a per-group memory bomb and straggler at corpus scale,
    * outside whole-stage codegen. This helper computes the identical
    * doubles from a bounded grid instead:
    *
    *  1. grid: groupBy(keys :+ v) count — codegen HashAggregate with
    *     map-side partials; the only corpus-sized pass.
    *  2. one keys-partitioned window over the GRID (value-domain-bounded,
    *     never corpus-sized) carries the running count and the per-key
    *     total.
    *  3. Spark's own interpolation, reproduced op-for-op on the covering
    *     grid rows: position = p·(n−1); lower/higher = floor/ceil; the row
    *     covering 0-indexed rank r is the one with cum−cnt ≤ r < cum; if
    *     both ranks land on one value return it, else
    *     (higher−position)·v_lo + (position−lower)·v_hi — the same IEEE
    *     ops in the same order as Percentile.getPercentile, so the output
    *     doubles are bit-identical.
    *
    * Returns one row per key: the key columns, `__n` (row count), `__min`,
    * `__max`, `__sum` (exact long stats over v), and one double column per
    * requested (name, p). `value` must be long-valued; NULL values are
    * ignored as `percentile()` ignores them — they count in neither `__n`
    * nor the covering-row search, and a key whose values are all NULL
    * reads NULL in `__n`, the stats and the percentiles (as a keyless
    * battery over no rows does). Keys may be empty
    * (global battery) — the grid window then runs single-task, but over
    * the bounded value domain, never the corpus. */
  def gridPercentiles(df: DataFrame, keys: Seq[String], value: Column,
      ps: Seq[(String, Double)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kc = keys.map(col)
    val grid = df.groupBy(kc :+ value.cast("long").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val wOrd = Window.partitionBy(kc: _*).orderBy(col("__v"))
    val wAll = Window.partitionBy(kc: _*)
    val nonNull = when(col("__v").isNotNull, col("__c"))
    val cum = grid
      .withColumn("__cum", sum(nonNull).over(wOrd))
      .withColumn("__n", sum(nonNull).over(wAll))
    val pickCols = ps.flatMap { case (name, p) =>
      val pos = lit(p) * (col("__n") - 1L).cast("double")
      val lower = floor(pos)
      val higher = ceil(pos)
      def covering(r: Column) =
        max(when(col("__cum") - col("__c") <= r && r < col("__cum"), col("__v")))
      Seq(covering(lower).as(s"__lo_$name"), covering(higher).as(s"__hi_$name"))
    }
    val aggs = Seq(
      max(col("__n")).as("__n"),
      min(col("__v")).as("__min"), max(col("__v")).as("__max"),
      sum(col("__v") * col("__c")).as("__sum")) ++ pickCols
    val agged = cum.groupBy(kc: _*).agg(aggs.head, aggs.tail: _*)
    ps.foldLeft(agged) { case (acc, (name, p)) =>
      val pos = lit(p) * (col("__n") - 1L).cast("double")
      val lower = floor(pos)
      val higher = ceil(pos)
      val vlo = col(s"__lo_$name").cast("double")
      val vhi = col(s"__hi_$name").cast("double")
      acc.withColumn(name,
          when(vlo === vhi, vlo)
            .otherwise((higher.cast("double") - pos) * vlo +
              (pos - lower.cast("double")) * vhi))
        .drop(s"__lo_$name", s"__hi_$name")
    }
  }

  /** The unordered pair grid over a small per-item relation `df` (one
    * row per `item`: per-type sizes, per-source totals, co-moments): every
    * pair a < b once, with `item` renamed `<out>_a` / `<out>_b` and every
    * other column `c` renamed `c_a` / `c_b`. The b side is broadcast, so
    * the ≤ |items|² grid never shuffles; building it from the item
    * relation, not from observed pairs, is what lets callers surface
    * pairs with nothing in common as explicit rows. */
  def pairGrid(df: DataFrame, item: String, out: String): DataFrame = {
    def side(s: String) = df.select(df.columns.toIndexedSeq.map(c =>
      col(c).as(if (c == item) s"${out}_$s" else s"${c}_$s")): _*)
    side("a").crossJoin(broadcast(side("b")))
      .filter(col(s"${out}_a") < col(s"${out}_b"))
  }

  /** Set overlap between every pair of items over a deduped presence
    * relation `pres` (`key`, `item`): `(<out>_a, <out>_b, n_a, n_b,
    * n_both)` with n = |set| and n_both = |A ∩ B|. The intersection is a
    * `key`-keyed self-join (≤ |items|² pairs per key) and a bounded pair
    * aggregate; it is left-joined onto the full [[pairGrid]] of sizes with
    * 0 filled in, so disjoint pairs surface as explicit 0 rows — an inner
    * join would silently drop them. `inter` is bounded by the grid, so it
    * is broadcast (the checkpointed lineage hides that bound from
    * Catalyst). [[pairOverlapSql]] is the DuckDB mirror. */
  def pairOverlap(pres: DataFrame, key: String, item: String, out: String): DataFrame = {
    val (a, b) = (s"${out}_a", s"${out}_b")
    // both grid sides read sizes: materialise the |items|-row rollup once
    val sizes = pres.groupBy(item).agg(count(lit(1)).as("n")).localCheckpoint()
    val inter = pres.join(pres.select(col(item).as(b), col(key)), Seq(key))
      .filter(col(item) < col(b))
      .groupBy(col(item).as(a), col(b))
      .agg(count(lit(1)).as("n_both"))
    pairGrid(sizes, item, out)
      .join(broadcast(inter), Seq(a, b), "left")
      .withColumn("n_both", coalesce(col("n_both"), lit(0L)))
  }

  /** The oracle's `sizes`, `inter` and `grid` CTEs over a `pres` CTE
    * (`key`, `item`): `grid` holds [[pairOverlap]]'s rows, written as
    * the sizes cross join LEFT JOIN the key-keyed self-join. */
  def pairOverlapSql(key: String, item: String, out: String): String =
    s"""sizes AS (SELECT $item, CAST(count(*) AS BIGINT) AS n FROM pres GROUP BY 1),
       |inter AS (SELECT a.$item AS ${out}_a, b.$item AS ${out}_b,
       |    CAST(count(*) AS BIGINT) AS n_both
       |  FROM pres a JOIN pres b ON b.$key = a.$key AND a.$item < b.$item
       |  GROUP BY 1, 2),
       |grid AS (SELECT sa.$item AS ${out}_a, sb.$item AS ${out}_b,
       |    sa.n AS n_a, sb.n AS n_b, CAST(coalesce(n_both, 0) AS BIGINT) AS n_both
       |  FROM sizes sa CROSS JOIN sizes sb
       |  LEFT JOIN inter ON ${out}_a = sa.$item AND ${out}_b = sb.$item
       |  WHERE sa.$item < sb.$item)""".stripMargin

  /** Two item distributions aligned on a shared value axis, for every
    * pair: from a counted rollup `r` (`item`, `value`, `n`) returns
    * `(pairs, aligned)` — `pairs` is the [[pairGrid]] of per-item totals
    * (`<out>_a`, `t_a`, `<out>_b`, `t_b`), and `aligned` holds one row
    * `(<out>_a, <out>_b, value, n_a, n_b)` per pair and value either side
    * has, the absent side reading 0.
    *
    * `aligned` is ONE aggregate: each side's rows are tagged with a 0
    * for the other side and summed per (pair, value), a single partially
    * aggregated exchange. Materialising the distinct (pair, value) key
    * set and LEFT-joining each side's counts back gives the same rows for
    * one more aggregate and two more joins against `r`. [[alignedPairsSql]]
    * keeps that formulation as the oracle. */
  def alignedPairs(r: DataFrame, item: String, value: String,
      out: String): (DataFrame, DataFrame) = {
    val (a, b) = (s"${out}_a", s"${out}_b")
    val pairs = pairGrid(r.groupBy(item).agg(sum(col("n")).as("t")), item, out)
    val pk = pairs.select(a, b)
    def side(s: String, na: Column, nb: Column) =
      pk.join(r.select(col(item).as(s), col(value), col("n")), Seq(s))
        .select(col(a), col(b), col(value), na.as("n_a"), nb.as("n_b"))
    val aligned = side(a, col("n"), lit(0L)).union(side(b, lit(0L), col("n")))
      .groupBy(a, b, value)
      .agg(sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"))
    (pairs, aligned)
  }

  /** The oracle's `sizes`, `pairs`, `pv` and `g` CTEs over an `r` CTE
    * (`item`, `value`, `n`): `pairs` and `g` hold [[alignedPairs]]'
    * two frames, written as the distinct (pair, value) set `pv` plus
    * one LEFT JOIN per side. */
  def alignedPairsSql(item: String, value: String, out: String): String =
    s"""sizes AS (SELECT $item, CAST(sum(n) AS BIGINT) AS t FROM r GROUP BY 1),
       |pairs AS (SELECT a.$item AS ${out}_a, b.$item AS ${out}_b,
       |    a.t AS t_a, b.t AS t_b
       |  FROM sizes a CROSS JOIN sizes b WHERE a.$item < b.$item),
       |pv AS (SELECT DISTINCT p.${out}_a, p.${out}_b, r.$value
       |  FROM pairs p JOIN r ON r.$item = p.${out}_a OR r.$item = p.${out}_b),
       |g AS (SELECT pv.${out}_a, pv.${out}_b, pv.$value,
       |    CAST(coalesce(ra.n, 0) AS BIGINT) AS n_a,
       |    CAST(coalesce(rb.n, 0) AS BIGINT) AS n_b
       |  FROM pv LEFT JOIN r ra ON ra.$item = pv.${out}_a AND ra.$value = pv.$value
       |          LEFT JOIN r rb ON rb.$item = pv.${out}_b AND rb.$value = pv.$value)""".stripMargin
}

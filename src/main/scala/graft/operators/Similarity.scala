package graft.operators

import graft.{QueryDef, Qh}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over `documents` (set similarity) and `embeddings`
  * (vector similarity) — the north-star "similarity search" mandate.
  *
  * Scale design: the brute-force variants are the correctness oracles; the
  * LSH variant shows the 100 TB path (bucket equi-join instead of a cross
  * join — candidates shrink from O(n²) to the bucket collision set, and the
  * join shuffles on the bucket key like any other equi-join).
  *
  * Float discipline: embeddings are float32; every fold casts to double
  * first and both engines evaluate the identical left-to-right fold, so
  * dot products are bit-identical (see Qh docs).
  */
object Similarity {
  import Qh._

  /** Structural cap on a driver-read centroid table: a control-plane
    * object by definition (indexes here are built at nlist ≤ 64; even a
    * 100 TB-corpus IVF stays in the low thousands of cells). A table past
    * this is an index-build bug, and boundedCollect raises on it. */
  val MaxCentroids = 4096

  /** Sequential-fold dot product of two array<float|double> columns —
    * native codegen expression ([[graft.plans.DotProd]]); exact
    * left-to-right double accumulation, bit-identical to the DuckDB
    * list_reduce fold in the oracles AND to [[dotDDecl]] (spec-asserted).
    * Runs once per candidate pair in the ANN queries — the reason it is
    * native rather than a CodegenFallback higher-order function. */
  def dotD(a: Column, b: Column): Column = graft.plans.DotProd.column(a, b)

  /** Declarative (HOF) form of [[dotD]] — the parity witness. */
  def dotDDecl(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm via the native sum-of-squares fold ([[graft.plans.SumSq]]). */
  def normD(a: Column): Column = sqrt(graft.plans.SumSq.column(a))

  /** Declarative (HOF) form of [[normD]] — the parity witness. */
  def normDDecl(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** SQL fragment: same sequential fold in DuckDB. Indexes with
    * list_extract over range(1, len+1) rather than zipping — zipped
    * structs need bracket field access (`p[1]`), which Spark's parser
    * reads as struct extraction and rejects, while 1-based
    * list_extract is portable across both engines verbatim. */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, len($a) + 1), ii -> " +
      s"CAST(list_extract($a, ii) AS DOUBLE) * CAST(list_extract($b, ii) AS DOUBLE))), (x, y) -> x + y)"

  def normSql(a: String): String =
    s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y))"

  // --- random-hyperplane LSH (deterministic, engine-independent) --------
  // hyperplane: table t, plane j, dim i at k = (t*8+j)*64+i has
  // coefficient (((1103515245*k + 12345) % 2001) - 1000)/1000.
  // All-integer generation: both engines compute identical planes.
  val LshPlanes = 8

  /** Number of independent hash tables (see [[graft.plans.LshBucket64]]):
    * the registered ANN query unions candidates across tables — the
    * standard LSH recall lever (a neighbor missed by one table's banding
    * is recovered by another). */
  val LshTables = graft.plans.LshBucket64.Tables

  /** Hyperplane coefficients, precomputed driver-side, all tables
    * concatenated — owned by the native expression so both forms share
    * one array. */
  val planeCoeffs: Array[Double] = graft.plans.LshBucket64.Coeffs

  /** Spark column: LSH bucket id (0..255) of an array<float> embedding in
    * hash table `table` — native codegen expression
    * ([[graft.plans.LshBucket64]]), computed once per row in every
    * bucketing query; bit-identical to [[lshBucketDecl]] (spec-asserted). */
  def lshBucket(v: Column, table: Int = 0): Column = graft.plans.LshBucket64.column(v, table)

  /** Declarative (HOF) form of [[lshBucket]] — the parity witness.
    * Per plane: dot = sum(zip_with(v, plane_slice, *)) — zip_with
    * evaluates its array arguments once (no element_at-in-lambda re-eval). */
  def lshBucketDecl(v: Column, table: Int = 0): Column = {
    val planes = typedLit(planeCoeffs)
    aggregate(
      transform(sequence(lit(0), lit(LshPlanes - 1)), j => {
        val dot = aggregate(
          zip_with(v, slice(planes, (lit(table * LshPlanes) + j) * 64 + 1, lit(64)),
            (x, p) => x.cast("double") * p),
          lit(0.0), (acc, t) => acc + t)
        when(dot > 0, pow(lit(2.0), j).cast("long")).otherwise(0L)
      }),
      lit(0L), (acc, x) => acc + x)
  }

  /** 2-bit multi-probe list: exact bucket + all single-bit flips + all
    * C(8,2)=28 double-bit flips = 37 probes per table. With [[LshTables]]
    * = 2 tables this is the registered ANN config — measured recall@5
    * 0.55 at ~30% of the corpus scanned on the sf0.1 embeddings (a
    * near-random corpus; see AnnRecallSpec's calibration note), vs 0.17
    * at 7% for 1 table × 1-bit. The recall/scan knobs are (tables,
    * flip bits); both are O(probes), never O(2^planes). */
  def probeBuckets2(bucket: Column): Column = {
    val flips =
      (0 until LshPlanes).map(j => bucket.bitwiseXOR(lit(1L << j))) ++
        (for { j <- 0 until LshPlanes; k <- j + 1 until LshPlanes }
          yield bucket.bitwiseXOR(lit((1L << j) | (1L << k))))
    array((bucket +: flips): _*)
  }

  /** DuckDB SQL: the same 2-bit probe list as [[probeBuckets2]]. */
  def probeBuckets2Sql(b: String): String =
    s"list_concat(" +
      s"list_prepend($b, list_transform(range(0, $LshPlanes), j -> xor($b, CAST(1 AS BIGINT) << j))), " +
      s"flatten(list_transform(range(0, $LshPlanes), j -> " +
      s"list_transform(range(j + 1, $LshPlanes), k -> " +
      s"xor(xor($b, CAST(1 AS BIGINT) << j), CAST(1 AS BIGINT) << k)))))"

  /** DuckDB SQL: same bucket id for embedding expression `v` in `table`. */
  def lshBucketSql(v: String, table: Int = 0): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, $LshPlanes), j ->
       |  CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(0, 64), i ->
       |      CAST(list_extract($v, i+1) AS DOUBLE) * CAST(((1103515245*CAST((j+${table * LshPlanes})*64+i AS BIGINT) + 12345) % 2001) - 1000 AS DOUBLE) / 1000.0)),
       |      (x, y) -> x + y) > 0
       |  THEN CAST(pow(2.0, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b)""".stripMargin

  /** dedup_semantic duplicate threshold: cosine-to-centroid at or above
    * this marks a cell member as a semantic duplicate of the cell
    * representative. Declared BEFORE `defs`: the oracle SQL interpolates
    * it at object init. */
  val SemDedupTheta = 0.9

  /** sim_kcenter sample size. Declared BEFORE `defs`: the oracle text
    * interpolates it at object init (the [[SemDedupTheta]] rule). */
  val KCenterK = 5

  // --- materialized IVF index: assign once, probe many times ------------

  /** Seed centroids — the fixed deterministic rule sim_ann_ivf declares:
    * the corpus vectors with vec_id 1..nlist, tie-breaks to the smaller
    * centroid id downstream. */
  private def seedCentroids(emb: DataFrame, nlist: Int): DataFrame =
    emb.filter(col("vec_id").between(1, nlist))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
        normD(col("embedding")).as("cnorm"))

  /** Nearest-centroid cell per vector: exact cosine arg-max against the
    * broadcast centroid table, ties to the smaller cent_id (max(struct)
    * with negated id). Groups on the SCALAR vec_id — the vector never
    * becomes a shuffle key. */
  private def assignCells(emb: DataFrame, cents: DataFrame): DataFrame = {
    val sim = dotD(col("embedding"), col("cvec")) / (normD(col("embedding")) * col("cnorm"))
    emb.crossJoin(broadcast(cents))
      .groupBy(col("vec_id"))
      .agg(max(struct(sim.as("s"), (-col("cent_id")).as("nid"))).as("best"))
      .select(col("vec_id"), (-col("best.nid")).as("cell"))
  }

  /** Deterministic Lloyd's k-means over the embedding column — real IVF
    * training instead of the fixed vec_id 1..nlist seeds. Every choice is
    * reproducible across runs and cluster layouts:
    *   - init = the existing fixed seeding rule (vec_id 1..nlist);
    *   - a FIXED iteration count, no convergence-threshold float compare;
    *   - assignment ties break to the smaller centroid id;
    *   - the mean is computed over micro-quantized integers
    *     (round(v·1e6) per dimension, summed as longs): long addition is
    *     order-independent, so the centroid update cannot drift with
    *     partitioning, unlike a float sum whose result depends on
    *     aggregation order.
    * Cells that lose all members keep their previous centroid. Per
    * round: one broadcast assign + one (cell, dim)-keyed integer
    * aggregation (nlist·dim rows out). At 100 TB, train on a sample —
    * the assignment pass in [[writeIvfIndex]] is what touches the full
    * corpus, exactly once. */
  def trainCentroids(emb: DataFrame, nlist: Int = 16, iters: Int = 5): DataFrame = {
    var cents = seedCentroids(emb, nlist).localCheckpoint(true)
    for (_ <- 0 until iters) {
      val cells = assignCells(emb, cents)
      val means = emb.join(cells, Seq("vec_id"))
        .select(col("cell"), posexplode(col("embedding")))
        .select(col("cell"), col("pos"),
          round(col("col").cast("double") * 1e6).cast("long").as("qv"))
        .groupBy("cell", "pos")
        .agg(sum("qv").as("s"), count(lit(1)).as("n"))
        .select(col("cell"), col("pos"),
          (col("s").cast("double") / (col("n").cast("double") * 1e6)).cast("float").as("v"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          x => x("v")).as("nvec"))
      cents = cents
        .join(means.select(col("cell").as("cent_id"), col("nvec")), Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("nvec"), col("cvec")).as("cvec"))
        .select(col("cent_id"), col("cvec"), normD(col("cvec")).as("cnorm"))
        .localCheckpoint(true) // nlist rows; truncate the per-round lineage
    }
    cents
  }

  /** Write a persistent IVF index for an embeddings relation: the cell
    * assignment hive-partitioned by `cell`, plus the nlist-row centroid
    * table. Centroids are the fixed vec_id 1..nlist seeds (sim_ann_ivf's
    * rule — the default, bit-compatible with the in-plan query) or, with
    * `trainIters` > 0, [[trainCentroids]]' k-means refinement of those
    * seeds (same index format; AnnRecallSpec shows equal-or-better probe
    * recall at the same nprobe). The vector analog of the persistent LSH
    * band index ([[Dedup.incrementalNearDup]]): at 100 TB the corpus is
    * assigned ONCE, and every probe afterwards is a partition-pruned scan
    * of nprobe/nlist of the data — the index write is the only full pass.
    * Norms are precomputed into the index so probes don't recompute them. */
  def writeIvfIndex(emb: DataFrame, indexDir: String, nlist: Int = 16,
      trainIters: Int = 0): Unit = {
    val cents = if (trainIters > 0) trainCentroids(emb, nlist, trainIters)
                else seedCentroids(emb, nlist)
    val cells = assignCells(emb, cents)
    emb.join(cells, Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("embedding"),
        normD(col("embedding")).as("nrm"), col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$indexDir/cells")
    cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  /** Probe a [[writeIvfIndex]] index: rerank exactly within the query's
    * `nprobe` nearest cells and return the top-k by (cosine desc, vec_id).
    * Cell selection reads the 16-row centroid table driver-side (bounded
    * O(nlist), like the band index's ≤64-pair prune set) and replicates
    * [[dotD]]'s left-to-right fold bit-for-bit, so the chosen cells — and
    * therefore the result — match the all-in-plan sim_ann_ivf query. The
    * cell list becomes a static `isin` predicate, so the scan shows
    * PartitionFilters and reads only the probed directories (IvfIndexSpec
    * asserts via the scan's numFiles metric). */
  private def foldDot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Driver-side nprobe cell choice against a materialized centroid table
    * — bounded O(nlist), replicates [[dotD]]'s left-to-right fold
    * bit-for-bit (shared by [[ivfProbe]] and [[ivfPqProbe]]). */
  private def chooseProbeCells(spark: SparkSession, indexDir: String,
      queryVec: Array[Float], nprobe: Int): IndexedSeq[Long] = {
    val qnorm = math.sqrt(foldDot(queryVec, queryVec))
    Qh.boundedCollect(spark.read.parquet(s"$indexDir/centroids")
      .select(col("cent_id"), col("cvec"), col("cnorm")),
      MaxCentroids, "IVF centroid table (nlist rows)")
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .map { case (id, cvec, cnorm) => (foldDot(queryVec, cvec) / (qnorm * cnorm), id) }
      .sortBy { case (csim, id) => (-csim, id) }
      .take(nprobe).map(_._2).toIndexedSeq
  }

  def ivfProbe(spark: SparkSession, indexDir: String, queryVec: Array[Float],
      nprobe: Int = 4, k: Int = 5, excludeVecId: Option[Long] = None): DataFrame = {
    val qnorm = math.sqrt(foldDot(queryVec, queryVec))
    val probeCells = chooseProbeCells(spark, indexDir, queryVec, nprobe)
    val idx = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(probeCells: _*))
    val excluded = excludeVecId.fold(idx)(id => idx.filter(col("vec_id") =!= id))
    excluded
      .select(col("vec_id"), col("label"), col("cell"),
        (dotD(col("embedding"), typedLit(queryVec)) / (col("nrm") * lit(qnorm))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  // --- product quantization (PQ): M×K codebooks + ADC ranking -----------

  /** PQ geometry: [[PqM]] subspaces of [[PqSubDim]] dims each over the
    * 64-dim embeddings, [[PqK]] centroids per subspace → one 4-bit code
    * per subspace, 8 codes (4 bytes) per vector. This is the FAISS-style
    * IVFADC compression stage: at 100 TB the raw float32 corpus is 256
    * bytes/vector; PQ codes are 4 — a 64× memory shrink that turns an
    * exact-rerank working set into a RAM-resident one. The decomposition
    * and training mirror Jégou et al. 2011 ("Product Quantization for
    * Nearest Neighbor Search", public IEEE TPAMI) — no external library.
    */
  val PqM = 8
  val PqK = 16
  val PqSubDim: Int = 64 / PqM

  /** Subvector relation (vec_id, m, sub): dims [m·subdim, (m+1)·subdim). */
  private def pqSubvectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("embedding"))
      .select(col("vec_id"), col("m").cast("long").as("m"),
        slice(col("embedding"), col("m") * PqSubDim + 1, lit(PqSubDim)).as("sub"))

  /** Nearest-codebook-entry per (vec_id, m): exact L2 argmin against the
    * broadcast codebook of the SAME subspace. The argmin drops the
    * row-constant ‖x‖² term (score = ‖c‖² − 2·x·c — same ordering), and
    * ties break to the smaller code via min(struct). Like assignCells,
    * groups on scalars — vectors never become shuffle keys. */
  private def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame = {
    val score = graft.plans.SumSq.column(col("cvec")) - lit(2.0) * dotD(col("sub"), col("cvec"))
    subs.join(broadcast(cb), Seq("m"))
      .groupBy("vec_id", "m")
      .agg(min(struct(score.as("sc"), col("cent_id"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.cent_id").as("code"))
  }

  /** Train all [[PqM]] codebooks SIMULTANEOUSLY with the
    * [[trainCentroids]] integer-exact Lloyd's discipline — one distributed
    * job per iteration covers every subspace, because the group keys are
    * (m, code): seeds are the vec_id 1..K subvectors (the fixed
    * deterministic rule), means are micro-quantized long sums
    * (order-independent), empty cells keep their centroid, fixed iteration
    * count. Codebook size M×K = 128 rows — always broadcastable. */
  def trainPqCodebooks(emb: DataFrame, iters: Int = 2): DataFrame = {
    val subs = pqSubvectors(emb).localCheckpoint(true) // reused every iteration
    var cb = subs.filter(col("vec_id").between(1, PqK))
      .select(col("m"), col("vec_id").as("cent_id"), col("sub").as("cvec"))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      val asg = pqAssign(subs, cb)
      val means = subs.join(asg, Seq("vec_id", "m"))
        .select(col("m"), col("code"), posexplode(col("sub")))
        .select(col("m"), col("code"), col("pos"),
          round(col("col").cast("double") * 1e6).cast("long").as("qv"))
        .groupBy("m", "code", "pos")
        .agg(sum("qv").as("s"), count(lit(1)).as("n"))
        .select(col("m"), col("code"), col("pos"),
          (col("s").cast("double") / (col("n").cast("double") * 1e6)).cast("float").as("v"))
        .groupBy("m", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          x => x("v")).as("nvec"))
      cb = cb
        .join(means.select(col("m"), col("code").as("cent_id"), col("nvec")),
          Seq("m", "cent_id"), "left")
        .select(col("m"), col("cent_id"), coalesce(col("nvec"), col("cvec")).as("cvec"))
        .localCheckpoint(true) // M×K rows; truncate per-round lineage
    }
    cb
  }

  /** Encode the corpus: one 0..K−1 code per subspace, packed into an
    * m-ordered array — the 4-byte PQ representation. */
  def pqEncode(emb: DataFrame, cb: DataFrame): DataFrame =
    pqAssign(pqSubvectors(emb), cb)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        x => x("code")).as("codes"))

  /** Asymmetric-distance (ADC) top-k: the query stays EXACT; each corpus
    * vector is ranked by approximate cosine
    * q·recon(codes) / (‖recon(codes)‖·‖q‖), where q·recon =
    * Σ_m q_sub(m)·codebook[m][code] and ‖recon‖² = Σ_m ‖codebook[m][code]‖².
    * Both per-subspace terms come from the M×K broadcast table (128 rows)
    * and are micro-quantized to nano-longs BEFORE the per-vector sum —
    * a float sum over an aggregation is order-dependent in its last ulp,
    * which would make the ranking partitioning-dependent; long addition
    * is exact. The corpus-side work never touches a float vector, only
    * 4-bit codes. Ties break to the smaller vec_id. */
  /** The M×K query-vs-codebook table ADC ranking consumes: per (m, code),
    * the query-subvector partial dot and the entry's squared norm, both
    * micro-quantized to nano-longs so per-vector sums are exact. */
  private def adcTable(cb: DataFrame, queryVec: Array[Float]): DataFrame =
    cb.select(col("m").as("tm"), col("cent_id"),
      round(dotD(slice(typedLit(queryVec), col("m").cast("int") * PqSubDim + 1, lit(PqSubDim)),
        col("cvec")) * 1e9).cast("long").as("pdot_nano"),
      round(graft.plans.SumSq.column(col("cvec")) * 1e9).cast("long").as("ssq_nano"))

  /** ADC ranking of a (vec_id, label, m, code) relation: exact nano-long
    * sums per vector, then approximate cosine and deterministic top-k. */
  private def adcRank(codesByM: DataFrame, table: DataFrame, qnorm: Double,
      k: Int): DataFrame =
    codesByM
      .join(broadcast(table),
        col("m") === col("tm") && col("code") === col("cent_id"))
      .groupBy("vec_id", "label")
      .agg(sum(col("pdot_nano")).as("dot_nano"), sum(col("ssq_nano")).as("sq_nano"))
      .select(col("vec_id"), col("label"),
        ((col("dot_nano").cast("double") / 1e9) /
          (sqrt(col("sq_nano").cast("double") / 1e9) * lit(qnorm))).as("adc_sim"))
      .orderBy(col("adc_sim").desc, col("vec_id"))
      .limit(k)

  def pqAdcTopK(emb: DataFrame, cb: DataFrame, queryVec: Array[Float],
      k: Int, excludeVecId: Long): DataFrame = {
    val qnorm = math.sqrt(queryVec.map(x => x.toDouble * x.toDouble).sum)
    val codesByM = pqAssign(pqSubvectors(emb.filter(col("vec_id") =!= excludeVecId)), cb)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("m"), col("code"))
    adcRank(codesByM, adcTable(cb, queryVec), qnorm, k)
  }

  /** Write a combined IVF+PQ (IVFADC) index: the cells relation carries
    * ONLY (vec_id, label, codes) — the 4-bit codes replace the raw
    * float32 vectors, the 64× residency shrink that makes a 100 TB corpus
    * probe-able — hive-partitioned by IVF cell, plus the nlist centroid
    * table (cell choice) and the M×K codebook table (ADC reconstruction).
    * Like [[writeIvfIndex]], the full corpus is touched exactly once. */
  /** Encode a relation into index rows (vec_id, label, codes, cell)
    * against FIXED codebooks + centroids — shared by the bulk writer and
    * the streaming ingest ([[graft.streaming.Streaming.pqIngest]]). */
  def encodeForIndex(emb: DataFrame, cb: DataFrame, cents: DataFrame): DataFrame =
    pqEncode(emb, cb)
      .join(assignCells(emb, cents), Seq("vec_id"))
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("codes"), col("cell"))

  def writeIvfPqIndex(emb: DataFrame, indexDir: String, nlist: Int = 16,
      pqIters: Int = 2, trainIters: Int = 0): Unit = {
    val cents = if (trainIters > 0) trainCentroids(emb, nlist, trainIters)
                else seedCentroids(emb, nlist)
    val cb = trainPqCodebooks(emb, pqIters)
    // bulk build is batch=0; streaming increments write batch=1+id —
    // uniform two-level layout so partition discovery unions them all and
    // cell pruning applies across every batch.
    encodeForIndex(emb, cb, cents)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$indexDir/cells/batch=0")
    cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
    cb.write.mode("overwrite").parquet(s"$indexDir/codebooks")
  }

  /** Probe a [[writeIvfPqIndex]] index: nprobe cells chosen driver-side
    * (the [[ivfProbe]] rule — same centroid table, same fold), then ADC
    * ranking over ONLY those cells' codes. The scan is partition-pruned
    * AND reads 4 bytes of codes per vector instead of 256 of floats —
    * both prunings compound at scale (nprobe/nlist of the rows, 1/64 of
    * the bytes). */
  def ivfPqProbe(spark: SparkSession, indexDir: String, queryVec: Array[Float],
      nprobe: Int = 4, k: Int = 5, excludeVecId: Option[Long] = None): DataFrame = {
    val qnorm = math.sqrt(foldDot(queryVec, queryVec))
    val probeCells = chooseProbeCells(spark, indexDir, queryVec, nprobe)
    val cb = spark.read.parquet(s"$indexDir/codebooks")
    val idx = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(probeCells: _*))
    val ex = excludeVecId.fold(idx)(id => idx.filter(col("vec_id") =!= id))
    val codesByM = ex
      .select(col("vec_id"), col("label"), posexplode(col("codes")))
      .select(col("vec_id"), col("label"),
        col("pos").cast("long").as("m"), col("col").as("code"))
    adcRank(codesByM, adcTable(cb, queryVec), qnorm, k)
  }

  /** Process-lifetime memo of [[writeIvfPqIndex]] keyed by corpus dir —
    * the build-once-consume-many shape of `Dedup.clustersTable`: the
    * first consumer pays codebook training + encoding and writes the
    * index under a per-process temp root; later consumers (and repeat
    * bench runs) probe the parquet, which is what a production serving
    * path does — the index is written once per corpus snapshot, never
    * per query. Same immutability contract as the cluster memo: a
    * pipeline that regenerates a corpus dir in-process must call
    * [[invalidateIvfPqMemo]] first. */
  private val ivfPqWritten = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val ivfPqRoot = Qh.processTempRoot("graft-ivfpq-")

  /** Drop the memoized IVFPQ index for `dir` (or all dirs). */
  def invalidateIvfPqMemo(dir: String = null): Unit =
    if (dir == null) ivfPqWritten.clear() else { ivfPqWritten.remove(dir); () }

  /** Process-unique subdir allocator (counter, not a dir-name hash — the
    * clustersTable collision rationale). */
  private val ivfPqSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  def ivfPqIndexDir(spark: SparkSession, dir: String): String =
    ivfPqWritten.computeIfAbsent(dir, { d =>
      val out = s"$ivfPqRoot/i${ivfPqSeq.getAndIncrement()}"
      writeIvfPqIndex(tbl(spark, d, "embeddings"), out)
      out
    })

  /** Brute-force cosine top-k against one query vector (the baseline). */
  def cosineTopK(s: SparkSession, d: String, queryId: Long, k: Int): DataFrame = {
    val emb = tbl(s, d, "embeddings")
    val q = broadcast(emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("e0"), normD(col("embedding")).as("n0")))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(q)
      .select(col("vec_id"), col("label"),
        (dotD(col("embedding"), col("e0")) / (normD(col("embedding")) * col("n0"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // Q28a — pairwise token-set Jaccard within source, sim >= 0.8
    // (reference T7/T19 near-dup heritage). Self-equi-join on source:
    // shuffles on the join key, no cross join. Sets are HASHED token sets
    // (8-byte longs, identical hashing both engines): long-array set ops
    // are several times cheaper than string-array ones and the exchange
    // payload shrinks accordingly — the exact all-pairs baseline that the
    // LSH-prefiltered dedup_ngram_jaccard accelerates at scale.
    "q28a_jaccard_pairs" -> QueryDef(
      (s, d) => {
        import Dedup.{jaccard, tokHashes}
        // Scale guard: this is the O(n²)-per-source EXACT baseline that
        // dedup_ngram_jaccard's LSH prefilter accelerates. Refuse to
        // launch it on a corpus where the self-join would explode; the
        // cap is a conf so a deliberate baseline run can raise it. The
        // count is the footers' exact row count: no job before refusing.
        val cap = Qh.MaxDocs.get(s)
        val nDocs = graft.Tables.rows(s, d, "documents")
        require(nDocs <= cap,
          s"q28a_jaccard_pairs is the exact all-pairs baseline: $nDocs docs exceeds the " +
            s"guard ${Qh.MaxDocs.key}=$cap. Use dedup_ngram_jaccard (LSH-prefiltered) at " +
            "scale, or raise the guard for a deliberate baseline run.")
        val docs = tbl(s, d, "documents")
          .select(col("doc_id"), col("source"), tokHashes(col("text")).as("tk"))
        val a = docs.select(col("source"), col("doc_id").as("a"), col("tk").as("ta"))
        val b = docs.select(col("source"), col("doc_id").as("b"), col("tk").as("tb"))
        a.join(b, Seq("source"))
          .filter(col("a") < col("b"))
          .withColumn("jaccard", jaccard(col("ta"), col("tb")))
          .filter(col("jaccard") >= 0.8)
          .select(col("source"), col("a"), col("b"), col("jaccard"))
          .orderBy("source", "a", "b")
      },
      Some(s"""WITH t AS (SELECT doc_id, source, ${Dedup.tokHashesSql("text")} AS tk FROM documents)
              |SELECT source, a, b, jaccard FROM (
              |  SELECT x.source AS source, x.doc_id AS a, y.doc_id AS b,
              |    ${Dedup.jaccardSql("x.tk", "y.tk")} AS jaccard
              |  FROM t x JOIN t y ON x.source = y.source AND x.doc_id < y.doc_id)
              |WHERE jaccard >= 0.8 ORDER BY source, a, b""".stripMargin),
      doc = "EXACT all-pairs baseline, guarded by spark.graft.q28a.maxDocs " +
        "(default 100k): scale runs must use the LSH path (dedup_ngram_jaccard)"),

    // Q28b — brute-force cosine top-5 of vec_id=0 (the ANN baseline).
    "sim_cosine_topk" -> QueryDef(
      (s, d) => cosineTopK(s, d, 0L, 5),
      // The 1-row query vector arrives via CROSS JOIN, not a scalar
      // subquery: inside dotSql's lambda a subquery is illegal in Spark
      // (UNSUPPORTED_SUBQUERY_EXPRESSION in higher-order functions),
      // while an outer column reference is fine in both engines.
      Some(s"""WITH q AS (SELECT embedding AS e0, ${normSql("embedding")} AS n0
              |          FROM embeddings WHERE vec_id = 0)
              |SELECT vec_id, label,
              |  ${dotSql("embedding", "e0")}
              |    / (${normSql("embedding")} * n0) AS sim
              |FROM embeddings CROSS JOIN q WHERE vec_id <> 0
              |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin)),

    // ANN via IVF (inverted-file) coarse quantization: vectors with
    // vec_id 1..16 serve as fixed centroids (deterministic "training");
    // every vector is assigned to its nearest centroid by exact dot-argmax
    // (one pass, broadcastable centroid list), the query probes its
    // nprobe=4 best centroids, and only those cells are reranked exactly.
    // At scale: the assignment is a narrow map over the corpus, cells are
    // the partition key, and a probe touches nprobe/nlist of the data.
    "sim_ann_ivf" -> QueryDef(
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        val cents = broadcast(emb.filter(col("vec_id").between(1, 16))
          .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
            normD(col("embedding")).as("cnorm")))
        // cell assignment: nearest centroid by cosine (deterministic
        // tie-break on centroid id via the max(struct) trick). The
        // arg-max groups by the SCALAR vec_id only — grouping by the
        // 64-dim vector would hash a 512-byte array as the shuffle key
        // per partial row; instead the vector rides through exactly one
        // 8-byte-key rejoin after the cells are decided.
        def assign(df: org.apache.spark.sql.DataFrame, vecCol: String, outPrefix: String) = {
          val sim = dotD(col(vecCol), col("cvec")) / (normD(col(vecCol)) * col("cnorm"))
          val cells = df.crossJoin(cents)
            .groupBy(col("vec_id"))
            .agg(max(struct(sim.as("s"), (-col("cent_id")).as("nid"))).as("best"))
            .select(col("vec_id"), (-col("best.nid")).as("cell"))
          df.select(col("vec_id"), col(vecCol).as(s"${outPrefix}_vec"))
            .join(cells, Seq("vec_id"))
        }
        val assigned = assign(emb.select("vec_id", "embedding"), "embedding", "e")
        val q = assigned.filter(col("vec_id") === 0)
          .select(col("e_vec").as("qvec"), normD(col("qvec")).as("qnorm"))
        // query probes its 4 nearest centroids
        val probes = broadcast(cents.crossJoin(broadcast(q))
          .select(col("cent_id"),
            (dotD(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm"))).as("csim"))
          .orderBy(col("csim").desc, col("cent_id")).limit(4)
          .select(col("cent_id").as("cell")))
        assigned.filter(col("vec_id") =!= 0)
          .join(probes, Seq("cell")) // only probed cells are scanned
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("cell"),
            (dotD(col("e_vec"), col("qvec")) / (normD(col("e_vec")) * col("qnorm"))).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      },
      // Arg-max spelled as a row_number window (ORDER BY sim DESC,
      // cent_id), not DuckDB's max(struct_pack(:=)) trick: identical
      // deterministic tie-break, and the `:=` syntax is unparseable in
      // Spark while the window form runs verbatim in both engines. The
      // 1-row q CTE arrives via CROSS JOIN (no subquery in lambdas).
      Some(s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cvec, ${normSql("embedding")} AS cnorm
              |               FROM embeddings WHERE vec_id BETWEEN 1 AND 16),
              |assigned AS (
              |  SELECT vec_id, e_vec, cell FROM (
              |    SELECT vec_id, e_vec, cell,
              |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
              |    FROM (SELECT e.vec_id, e.embedding AS e_vec, c.cent_id AS cell,
              |            ${dotSql("e.embedding", "c.cvec")} / (${normSql("e.embedding")} * c.cnorm) AS s
              |          FROM embeddings e CROSS JOIN cents c))
              |  WHERE rn = 1),
              |q AS (SELECT e_vec AS qvec, ${normSql("e_vec")} AS qnorm FROM assigned WHERE vec_id = 0),
              |probes AS (SELECT cent_id AS cell FROM cents CROSS JOIN q
              |           ORDER BY ${dotSql("qvec", "cvec")} / (qnorm * cnorm) DESC, cent_id LIMIT 4)
              |SELECT vec_id, cell,
              |  ${dotSql("e_vec", "qvec")} / (${normSql("e_vec")} * qnorm) AS sim
              |FROM assigned JOIN probes USING (cell) CROSS JOIN q
              |WHERE vec_id <> 0
              |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin)),

    // ANN via random-hyperplane LSH, 2 independent hash tables × 2-bit
    // MULTI-PROBE: candidates = union over tables of {exact bucket,
    // single-bit flips, double-bit flips}, then exact cosine rerank.
    // Recall@5 measured 0.55 at ~30% of this (near-random) corpus
    // scanned — gated >= 0.5 in AnnRecallSpec; knobs are (tables, flip
    // bits). For ONE query vector the optimal plan is what this builds: a
    // 1-row broadcast carrying the two 37-entry probe lists, membership-
    // tested per corpus row (zero shuffle; the BNLJ is against a single
    // broadcast row — allowlisted in the plan gate). A BATCH of queries
    // would explode probes and bucket-equi-join instead (see sim_knn_join
    // for that shape).
    "sim_ann_lsh" -> QueryDef(
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
          .withColumn("b0", lshBucket(col("embedding"), 0))
          .withColumn("b1", lshBucket(col("embedding"), 1))
        val q = broadcast(emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("e0"), normD(col("embedding")).as("n0"),
            probeBuckets2(col("b0")).as("p0"), probeBuckets2(col("b1")).as("p1")))
        emb.filter(col("vec_id") =!= 0)
          .join(q, array_contains(col("p0"), col("b0")) || array_contains(col("p1"), col("b1")))
          .select(col("vec_id"), col("label"),
            (dotD(col("embedding"), col("e0")) / (normD(col("embedding")) * col("n0"))).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding,
              |    ${lshBucketSql("embedding", 0)} AS b0,
              |    ${lshBucketSql("embedding", 1)} AS b1 FROM embeddings),
              |q AS (SELECT embedding AS e0, ${normSql("embedding")} AS n0,
              |    ${probeBuckets2Sql("b0")} AS p0, ${probeBuckets2Sql("b1")} AS p1
              |  FROM e WHERE vec_id = 0)
              |SELECT vec_id, label,
              |  ${dotSql("embedding", "e0")}
              |    / (${normSql("embedding")} * n0) AS sim
              |FROM e CROSS JOIN q WHERE vec_id <> 0 AND (list_contains(p0, b0)
              |  OR list_contains(p1, b1))
              |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin),
      doc = "Multi-probe LSH ANN: 2 hash tables x (exact + 1-bit + 2-bit flips) = 74 probes"),

    // Batch k-NN self-join: EVERY vector's top-3 same-bucket neighbors by
    // exact cosine — the corpus-wide ANN operation a training pipeline
    // runs (per-example nearest neighbors for dedup/curation), vs the
    // single-query variants above. Candidates come from the LSH bucket
    // equi-join (never O(n²)); ranking is a row_number window partitioned
    // by vec_id, so the top-k shuffle partitions by vector — both sides
    // scale with bucket collision counts, not corpus size².
    "sim_knn_join" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = tbl(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            lshBucket(col("embedding")).as("bucket"), normD(col("embedding")).as("nrm"))
        val pairs = emb
          .join(emb.select(col("bucket"), col("vec_id").as("nbr_id"),
            col("embedding").as("eb"), col("nrm").as("nb")), Seq("bucket"))
          .filter(col("vec_id") =!= col("nbr_id"))
          .select(col("vec_id"), col("nbr_id"),
            (dotD(col("embedding"), col("eb")) / (col("nrm") * col("nb"))).as("cosine"))
        val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("nbr_id"))
        pairs.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .orderBy("vec_id", "rnk")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket,
              |    ${normSql("embedding")} AS nrm FROM embeddings),
              |pairs AS (
              |  SELECT x.vec_id AS vec_id, y.vec_id AS nbr_id,
              |    ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cosine
              |  FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id)
              |SELECT vec_id, nbr_id, cosine, rnk FROM (
              |  SELECT vec_id, nbr_id, cosine,
              |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS rnk
              |  FROM pairs)
              |WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin)),

    // Vector hygiene stats under int quantization: each float32 component
    // is quantized to round(x*1000) — integer arithmetic from there on, so
    // the squared norm is an order-independent exact sum (the per-element
    // rounding can never tie at .5: k+0.5 = v*1000 would need v = odd/2000,
    // which no binary float represents). The embedding-QA pass a training
    // pipeline runs before indexing: norm outliers, dead (all-zero) and
    // sign-skewed vectors. Pure per-row array arithmetic — no shuffle
    // before the final ORDER BY.
    "sim_vector_stats" -> QueryDef(
      (s, d) => {
        val q = transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long"))
        tbl(s, d, "embeddings")
          .select(col("vec_id"), col("label"), q.as("q"))
          .select(col("vec_id"), col("label"),
            aggregate(col("q"), lit(0L), (a, v) => a + v * v).as("nsq"),
            size(filter(col("q"), v => v > 0L)).cast("long").as("n_pos"),
            size(filter(col("q"), v => v === 0L)).cast("long").as("n_zero"))
          .withColumn("norm_milli", round(sqrt(col("nsq").cast("double"))).cast("long"))
          .select(col("vec_id"), col("label"), col("nsq"), col("n_pos"),
            col("n_zero"), col("norm_milli"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, label, nsq, n_pos, n_zero,
             |  CAST(round(sqrt(CAST(nsq AS DOUBLE))) AS BIGINT) AS norm_milli
             |FROM (SELECT vec_id, label,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(q, v -> v*v)), (a, v) -> a + v) AS nsq,
             |    CAST(len(list_filter(q, v -> v > 0)) AS BIGINT) AS n_pos,
             |    CAST(len(list_filter(q, v -> v = 0)) AS BIGINT) AS n_zero
             |  FROM (SELECT vec_id, label,
             |      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
             |    FROM embeddings))
             |ORDER BY vec_id""".stripMargin),
      doc = "embedding QA stats under exact integer quantization"),

    // Semantic dedup (SemDeDup shape, Abbas et al. 2023: cluster the
    // embedding space, drop within-cluster semantic duplicates keeping one
    // representative). Clustering = the deterministic IVF cell rule
    // (centroids vec_id 1..16, nearest by exact cosine, ties to the
    // smaller id — same rule as sim_ann_ivf/writeIvfIndex). Within a cell,
    // members whose cosine-to-centroid clears the threshold are semantic
    // duplicates of the cell REPRESENTATIVE (max cosine, tie to lowest id)
    // and are dropped; sub-threshold members are merely "same region" and
    // kept. Centroid-anchored (O(n·nlist)) rather than pairwise
    // (O(n²/nlist) per cell): at 100 TB the assignment is the only full
    // pass, exactly the materialized-IVF shape — no pairwise verify stage
    // at all, which is what makes semantic dedup cheaper than MinHash on
    // embedded corpora. keep ∈ {0,1} rides on every row so downstream
    // filters are a pure predicate.
    "dedup_semantic" -> QueryDef(
      (s, d) => {
        val emb = tbl(s, d, "embeddings")
        val cents = broadcast(emb.filter(col("vec_id").between(1, 16))
          .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
            normD(col("embedding")).as("cnorm")))
        val sim = dotD(col("embedding"), col("cvec")) / (normD(col("embedding")) * col("cnorm"))
        val assigned = emb.crossJoin(cents)
          .groupBy(col("vec_id"))
          .agg(max(struct(sim.as("s"), (-col("cent_id")).as("nid"))).as("best"))
          .select(col("vec_id"), (-col("best.nid")).as("cell"), col("best.s").as("csim"))
        val reps = assigned.groupBy("cell")
          .agg(max(struct(col("csim").as("s"), (-col("vec_id")).as("nid"))).as("r"))
          .select(col("cell"), (-col("r.nid")).as("rep_id"))
        assigned.join(reps, Seq("cell"))
          .withColumn("keep",
            when(col("vec_id") === col("rep_id") || col("csim") < SemDedupTheta, 1L)
              .otherwise(0L))
          .select(col("vec_id"), col("cell"), col("csim"), col("rep_id"), col("keep"))
          .orderBy("vec_id")
      },
      // Both arg-maxes are row_number windows with explicit tie-breaks
      // (see sim_ann_ivf's oracle note: struct_pack's `:=` cannot be
      // parsed by Spark; the window form is verbatim-portable).
      Some(s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cvec, ${normSql("embedding")} AS cnorm
              |               FROM embeddings WHERE vec_id BETWEEN 1 AND 16),
              |assigned AS (
              |  SELECT vec_id, cell, csim FROM (
              |    SELECT vec_id, cell, csim,
              |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
              |    FROM (SELECT e.vec_id, c.cent_id AS cell,
              |            ${dotSql("e.embedding", "c.cvec")} / (${normSql("e.embedding")} * c.cnorm) AS csim
              |          FROM embeddings e CROSS JOIN cents c))
              |  WHERE rn = 1),
              |reps AS (
              |  SELECT cell, rep_id FROM (
              |    SELECT cell, vec_id AS rep_id,
              |      row_number() OVER (PARTITION BY cell ORDER BY csim DESC, vec_id) AS rn
              |    FROM assigned)
              |  WHERE rn = 1)
              |SELECT a.vec_id, a.cell, a.csim, r.rep_id,
              |  CAST(CASE WHEN a.vec_id = r.rep_id OR a.csim < $SemDedupTheta THEN 1 ELSE 0 END AS BIGINT) AS keep
              |FROM assigned a JOIN reps r USING (cell)
              |ORDER BY a.vec_id""".stripMargin),
      doc = "SemDeDup-style centroid-anchored semantic dedup: IVF cells + " +
        s"cos-to-centroid >= $SemDedupTheta drops to the cell representative"),

    // PQ/ADC approximate top-k — the compression leg of the ANN triad
    // (LSH buckets prune candidates, IVF cells prune partitions, PQ codes
    // shrink the residency 64×): probe the MATERIALIZED IVFADC index
    // ([[writeIvfPqIndex]], built once per corpus via the process-memo —
    // the serving shape: codebook training is a write-path cost, never a
    // query cost) with the exact vec_id-0 query sim_cosine_topk answers
    // exactly, so the two results are directly comparable. The probe is
    // partition-pruned to nprobe of nlist cells AND reads 4-bit codes
    // instead of float32 — the two prunings compound at 100 TB.
    // Rows-only at the driver gate (iterative k-means has no portable
    // SQL form — the text_bpe_vocab precedent); PqSpec gates codebook
    // training/encoding/ADC identity, IvfPqSpec gates the index
    // write/probe path and its recall vs the exact baseline, and
    // OperatorSpec pins this entry ≡ a fresh write+probe run.
    "sim_pq_adc" -> QueryDef(
      (s, d) => {
        val q = Qh.boundedHead(tbl(s, d, "embeddings")
          .filter(col("vec_id") === 0L).select(col("embedding")),
          "PQ query vector (vec_id 0)").getSeq[Float](0).toArray
        ivfPqProbe(s, ivfPqIndexDir(s, d), q, nprobe = 4, k = 5,
          excludeVecId = Some(0L))
      },
      None,
      doc = "PQ-compressed ANN served from the materialized IVFADC index: " +
        "cell-pruned scan of 4-bit codes, asymmetric-distance top-5; spec-gated"),

    // Scalar quantization (int8) — the training-free leg of the
    // compression family (PQ trains codebooks; SQ just rescales): each
    // vector stores one double scale (max|v|/127) plus 64 int8 codes — a
    // 4× shrink that keeps dot products as INTEGER arithmetic. The
    // approximate dot is s_a·s_q·⟨codes_a,codes_q⟩: the integer inner
    // product is exact in both engines and the two scale multiplies are
    // one fixed IEEE expression, so unlike float-sum ANN scores the whole
    // ranking is oracle-portable bit-for-bit. Rounding is floor(x+0.5),
    // never round() — k=0 rounding is the one place HALF_UP (Spark) vs
    // HALF_EVEN (DuckDB) could diverge on an exact .5 code. Scale shape:
    // encode is one narrow map; at 100 TB the int8 corpus (plus scales)
    // is what sits in memory, and this query IS the brute-force scan over
    // it — recall vs the exact ranking is asserted in AnnRecallSpec.
    "sim_sq8" -> QueryDef(
      (s, d) => {
        val maxAbs = aggregate(
          transform(col("embedding"), v => abs(v.cast("double"))),
          lit(0.0), (a, x) => greatest(a, x))
        val enc = tbl(s, d, "embeddings")
          .withColumn("scale", greatest(maxAbs, lit(1e-30)) / lit(127.0))
          .withColumn("codes", transform(col("embedding"),
            v => floor(v.cast("double") / col("scale") + lit(0.5)).cast("long")))
        val q = enc.filter(col("vec_id") === 0)
          .select(col("codes").as("p_codes"), col("scale").as("p_scale"),
            col("embedding").as("p_emb"))
        val idot = aggregate(
          zip_with(col("codes"), col("p_codes"), (a, b) => a * b),
          lit(0L), (acc, v) => acc + v)
        enc.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("label"),
            (col("scale") * col("p_scale") * idot.cast("double")).as("adot"),
            dotD(col("embedding"), col("p_emb")).as("exact_dot"))
          .withColumn("abs_err", abs(col("adot") - col("exact_dot")))
          .orderBy(col("adot").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH sq AS (SELECT vec_id, label, embedding,
              |    greatest(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              |        list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
              |      (a, x) -> greatest(a, x)), 1e-30) / 127.0 AS scale
              |  FROM embeddings),
              |enc AS (SELECT vec_id, label, embedding, scale,
              |    list_transform(embedding,
              |      v -> CAST(floor(CAST(v AS DOUBLE) / scale + 0.5) AS BIGINT)) AS codes
              |  FROM sq),
              |q AS (SELECT codes AS p_codes, scale AS p_scale, embedding AS p_emb
              |      FROM enc WHERE vec_id = 0)
              |SELECT vec_id, label,
              |  scale * p_scale * CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              |    list_transform(range(1, len(codes) + 1),
              |      ii -> list_extract(codes, ii) * list_extract(p_codes, ii))),
              |    (a, b) -> a + b) AS DOUBLE) AS adot,
              |  ${dotSql("embedding", "p_emb")} AS exact_dot,
              |  abs(scale * p_scale * CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              |    list_transform(range(1, len(codes) + 1),
              |      ii -> list_extract(codes, ii) * list_extract(p_codes, ii))),
              |    (a, b) -> a + b) AS DOUBLE) - ${dotSql("embedding", "p_emb")}) AS abs_err
              |FROM enc CROSS JOIN q WHERE vec_id <> 0
              |ORDER BY adot DESC, vec_id LIMIT 10""".stripMargin),
      doc = "int8 scalar-quantized brute-force ANN: per-vector scale + " +
        "integer inner product, oracle-exact ranking; 4x memory shrink at scale"),

    // Greedy k-center diversity sampling (Gonzalez 2-approximation) —
    // the coreset-selection op curation pipelines use to pick a small
    // MAXIMALLY-SPREAD subset (seed prompts, eval anchors, dedup
    // representatives): round r adds the vector whose nearest chosen
    // center is FARTHEST (here: lowest max-cosine, ties to the smaller
    // vec_id; seed = vec_id 0 by convention). Scale shape: the running
    // max-cos column updates INCREMENTALLY against only the newest
    // center (one broadcast + one scan per round, localCheckpoint
    // truncating lineage — the PageRank/BPE iterative pattern), never
    // k×n cosines per round; the per-round argmin is a 1-row driver
    // collect, the bounded control-plane read. The oracle unrolls the
    // identical greedy chain as K-1 CTE stages. far_cos is the max
    // cosine to the previously-chosen set at selection time (seed: 1.0
    // by convention) — monotonically NON-DECREASING by the greedy
    // invariant (spec-pinned).
    "sim_kcenter" -> QueryDef(
      (s, d) => {
        val K = KCenterK
        val emb = tbl(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))
        def centerRow(id: Long) = emb.filter(col("vec_id") === id)
          .select(col("embedding").as("ce"), col("nrm").as("cn"))
        var chosen = Seq((1L, 0L, 1.0)) // (round, vec_id, far_cos)
        var scored = emb.crossJoin(broadcast(centerRow(0L)))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            (dotD(col("embedding"), col("ce")) / (col("nrm") * col("cn"))).as("mc"))
          .localCheckpoint()
        for (r <- 2 to K) {
          val pick = Qh.boundedHead(
            scored.filter(!col("vec_id").isin(chosen.map(_._2): _*))
              .orderBy(col("mc").asc, col("vec_id")).limit(1)
              .select(col("vec_id"), col("mc")), "k-center round argmax")
          chosen :+= ((r.toLong, pick.getLong(0), pick.getDouble(1)))
          if (r < K) {
            scored = scored.crossJoin(broadcast(centerRow(pick.getLong(0))))
              .select(col("vec_id"), col("embedding"), col("nrm"),
                greatest(col("mc"),
                  dotD(col("embedding"), col("ce")) / (col("nrm") * col("cn"))).as("mc"))
              .localCheckpoint()
          }
        }
        val s2 = s
        import s2.implicits._
        chosen.toDF("sel_round", "vec_id", "far_cos").orderBy("sel_round")
      },
      Some {
        val K = KCenterK
        def cos(v: String, c: String) =
          s"${dotSql(s"$v.embedding", s"$c.ce")} / ($v.nrm * $c.cn)"
        val stages = new StringBuilder
        stages ++= s"""WITH e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
                      |sel1 AS (SELECT embedding AS ce, nrm AS cn FROM e WHERE vec_id = 0),
                      |m1 AS (SELECT e.vec_id AS vec_id, ${cos("e", "s")} AS mc
                      |       FROM e CROSS JOIN sel1 s),
                      |""".stripMargin
        for (r <- 2 to K) {
          val prevM = s"m${r - 1}"
          val prevPicked =
            if (r == 2) "SELECT 0 AS vec_id"
            else s"SELECT 0 AS vec_id UNION ALL ${(2 until r).map(i => s"SELECT vec_id FROM pick$i").mkString(" UNION ALL ")}"
          stages ++= s"""pick$r AS (SELECT vec_id, mc FROM $prevM
                        |  WHERE vec_id NOT IN ($prevPicked)
                        |  ORDER BY mc ASC, vec_id LIMIT 1),
                        |""".stripMargin
          if (r < K)
            stages ++= s"""sel$r AS (SELECT e.embedding AS ce, e.nrm AS cn
                          |  FROM e JOIN pick$r p ON e.vec_id = p.vec_id),
                          |m$r AS (SELECT m.vec_id AS vec_id,
                          |    greatest(m.mc, ${dotSql("e.embedding", "s.ce")} / (e.nrm * s.cn)) AS mc
                          |  FROM $prevM m JOIN e ON m.vec_id = e.vec_id CROSS JOIN sel$r s),
                          |""".stripMargin
        }
        val rows = (s"SELECT CAST(1 AS BIGINT) AS sel_round, CAST(0 AS BIGINT) AS vec_id, " +
          "CAST(1.0 AS DOUBLE) AS far_cos") +:
          (2 to K).map(r =>
            s"SELECT CAST($r AS BIGINT), vec_id, CAST(mc AS DOUBLE) FROM pick$r")
        stages.toString.stripSuffix(",\n").stripSuffix(",") +
          "\n" + rows.mkString("\nUNION ALL\n") + "\nORDER BY sel_round"
      },
      doc = s"greedy k-center (Gonzalez) diversity sample, K=$KCenterK: " +
        "incremental min-dist maintenance, 1-row argmin per round"),

    // Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
    // diversity-aware retrieval that RAG stacks run between ANN and the
    // context window: greedily pick K results maximizing
    // λ·relevance − (1−λ)·max-similarity-to-already-picked, so near-
    // duplicate hits don't crowd out coverage. Query = vec_id 0 (the
    // sim-family convention), λ = 0.7, round 1 ≡ pure argmax relevance
    // (empty picked set ⇒ mc = 0). Same iterative shape as
    // [[sim_kcenter]]: the max-sim-to-picked column updates against only
    // the newest pick (broadcast + scan + localCheckpoint per round),
    // 1-row driver argmax; the oracle unrolls the identical chain. The
    // λ-blend is the same literal IEEE expression in both engines, so
    // scores are oracle-exact doubles.
    "sim_mmr" -> QueryDef(
      (s, d) => {
        val K = KCenterK
        val emb = tbl(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))
        val qrow = emb.filter(col("vec_id") === 0L)
          .select(col("embedding").as("qe"), col("nrm").as("qn"))
        def pickedRow(id: Long) = emb.filter(col("vec_id") === id)
          .select(col("embedding").as("ce"), col("nrm").as("cn"))
        var pool = emb.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(qrow))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            (dotD(col("embedding"), col("qe")) / (col("nrm") * col("qn"))).as("rel"),
            lit(0.0).as("mc"))
          .localCheckpoint()
        var chosen = Seq.empty[(Long, Long, Double, Double, Double)]
        for (r <- 1 to K) {
          val pick = Qh.boundedHead(pool
            .withColumn("score", lit(0.7) * col("rel") - lit(0.3) * col("mc"))
            .orderBy(col("score").desc, col("vec_id")).limit(1)
            .select(col("vec_id"), col("rel"), col("mc"), col("score")),
            "MMR round argmax")
          chosen :+= ((r.toLong, pick.getLong(0), pick.getDouble(1),
            pick.getDouble(2), pick.getDouble(3)))
          if (r < K) {
            pool = pool.filter(col("vec_id") =!= pick.getLong(0))
              .crossJoin(broadcast(pickedRow(pick.getLong(0))))
              .select(col("vec_id"), col("embedding"), col("nrm"), col("rel"),
                greatest(col("mc"),
                  dotD(col("embedding"), col("ce")) / (col("nrm") * col("cn"))).as("mc"))
              .localCheckpoint()
          }
        }
        val s2 = s
        import s2.implicits._
        chosen.toDF("sel_round", "vec_id", "rel", "max_sim_picked", "score")
          .orderBy("sel_round")
      },
      Some {
        val K = KCenterK
        val sb = new StringBuilder
        sb ++= s"""WITH e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
                  |qv AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0),
                  |m0 AS (SELECT e.vec_id AS vec_id,
                  |    ${dotSql("e.embedding", "q.qe")} / (e.nrm * q.qn) AS rel,
                  |    CAST(0.0 AS DOUBLE) AS mc
                  |  FROM e CROSS JOIN qv q WHERE e.vec_id <> 0),
                  |""".stripMargin
        for (r <- 1 to K) {
          val prevM = s"m${r - 1}"
          sb ++= s"""p$r AS (SELECT vec_id, rel, mc, 0.7 * rel - 0.3 * mc AS score
                    |  FROM $prevM ORDER BY score DESC, vec_id LIMIT 1),
                    |""".stripMargin
          if (r < K)
            sb ++= s"""s$r AS (SELECT e.embedding AS ce, e.nrm AS cn
                      |  FROM e JOIN p$r p ON e.vec_id = p.vec_id),
                      |m$r AS (SELECT m.vec_id AS vec_id, m.rel AS rel,
                      |    greatest(m.mc, ${dotSql("e.embedding", "s.ce")} / (e.nrm * s.cn)) AS mc
                      |  FROM $prevM m JOIN e ON m.vec_id = e.vec_id CROSS JOIN s$r s
                      |  WHERE m.vec_id NOT IN (SELECT vec_id FROM p$r)),
                      |""".stripMargin
        }
        val rows = (1 to K).map(r =>
          s"SELECT CAST($r AS BIGINT) AS sel_round, vec_id, rel, mc AS max_sim_picked, score FROM p$r")
        sb.toString.stripSuffix(",\n").stripSuffix(",") +
          "\n" + rows.mkString("\nUNION ALL\n") + "\nORDER BY sel_round"
      },
      doc = s"MMR diversity-aware retrieval (λ=0.7, K=$KCenterK): greedy " +
        "λ·rel − (1−λ)·max-sim-to-picked, incremental like sim_kcenter"),

    // Hybrid-retrieval rank fusion (RRF, Cormack et al. 2009 — the
    // standard way to combine a lexical and a semantic retriever): the
    // SEMANTIC list is cosine top-20 against query vector 0, the LEXICAL
    // list is token-Jaccard top-20 against document 0 (vec_id and doc_id
    // share the id space by construction of the test corpus), and each
    // candidate scores Σ_lists 1e6 div (60 + rank) — the classic k=60
    // constant, integer-exact so both engines agree bit-for-bit; a doc
    // missing from one list contributes 0 from it (COALESCE, never a
    // dropped row — one-list hits are exactly what fusion exists to
    // rescue).
    //
    // Scale shape: each list is a TakeOrderedAndProject top-k (no global
    // sort, no all-pairs — the candidate generation at 100 TB swaps in
    // sim_ann_ivf / dedup_minhash_lsh, same fusion tail); the rank
    // windows run over the ALREADY-LIMITED 20-row lists (cardinality
    // bounded by construction — allowlisted in the plan gate exactly
    // like layout_zorder's diagnostic), and the fusion is one 20×20
    // full-outer equi-join.
    "sim_rrf_fusion" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import Dedup.{jaccard, tokHashes}
        val K = 20
        val emb = tbl(s, d, "embeddings")
        val qv = broadcast(emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("e0"), normD(col("embedding")).as("n0")))
        val sem = emb.filter(col("vec_id") =!= 0).crossJoin(qv)
          .select(col("vec_id").as("id"),
            (dotD(col("embedding"), col("e0")) /
              (normD(col("embedding")) * col("n0"))).as("sim"))
          .orderBy(col("sim").desc, col("id")).limit(K)
          .select(col("id"), row_number()
            .over(Window.orderBy(col("sim").desc, col("id")))
            .cast("long").as("rank_sem"))
        val docs = tbl(s, d, "documents")
          .select(col("doc_id"), tokHashes(col("text")).as("tk"))
        val qd = broadcast(docs.filter(col("doc_id") === 0)
          .select(col("tk").as("tk0")))
        val lex = docs.filter(col("doc_id") =!= 0).crossJoin(qd)
          .select(col("doc_id").as("id"), jaccard(col("tk"), col("tk0")).as("jac"))
          .orderBy(col("jac").desc, col("id")).limit(K)
          .select(col("id"), row_number()
            .over(Window.orderBy(col("jac").desc, col("id")))
            .cast("long").as("rank_lex"))
        sem.join(lex, Seq("id"), "full_outer")
          .select(col("id"), col("rank_sem"), col("rank_lex"),
            (coalesce(expr("1000000 div (60 + rank_sem)"), lit(0L)) +
              coalesce(expr("1000000 div (60 + rank_lex)"), lit(0L)))
              .as("rrf_ppm"))
          .orderBy(col("rrf_ppm").desc, col("id"))
      },
      Some(s"""WITH q AS (SELECT embedding AS e0, ${normSql("embedding")} AS n0
              |          FROM embeddings WHERE vec_id = 0),
              |sem0 AS (SELECT vec_id AS id,
              |    ${dotSql("embedding", "e0")} / (${normSql("embedding")} * n0) AS sim
              |  FROM embeddings CROSS JOIN q WHERE vec_id <> 0
              |  ORDER BY sim DESC, id LIMIT 20),
              |sem AS (SELECT id, CAST(row_number() OVER (ORDER BY sim DESC, id) AS BIGINT) AS rank_sem
              |        FROM sem0),
              |t AS (SELECT doc_id, ${Dedup.tokHashesSql("text")} AS tk FROM documents),
              |qd AS (SELECT tk AS tk0 FROM t WHERE doc_id = 0),
              |lex0 AS (SELECT doc_id AS id, ${Dedup.jaccardSql("tk", "tk0")} AS jac
              |  FROM t CROSS JOIN qd WHERE doc_id <> 0
              |  ORDER BY jac DESC, id LIMIT 20),
              |lex AS (SELECT id, CAST(row_number() OVER (ORDER BY jac DESC, id) AS BIGINT) AS rank_lex
              |        FROM lex0)
              |SELECT coalesce(sem.id, lex.id) AS id, rank_sem, rank_lex,
              |  coalesce(divide(1000000, 60 + rank_sem), 0)
              |    + coalesce(divide(1000000, 60 + rank_lex), 0) AS rrf_ppm
              |FROM sem FULL OUTER JOIN lex ON sem.id = lex.id
              |ORDER BY rrf_ppm DESC, coalesce(sem.id, lex.id)""".stripMargin),
      doc = "reciprocal-rank fusion (k=60) of the cosine top-20 and " +
        "token-Jaccard top-20 lists: integer-exact Σ 1e6 div (60+rank), " +
        "full-outer so one-list hits survive"),

    // ANN quality evaluation — recall@5 of TWO candidate-generation
    // strategies against exact brute-force ground truth over a 20-query
    // panel ("measure, don't guess": an ANN index you haven't measured
    // recall on is not an index, it's a hope). Per query point: exact
    // top-5 by cosine (the guarded all-pairs baseline shape, bounded
    // here by the fixed panel); single-table same-bucket LSH top-5 (the
    // sim_knn_join candidate rule — cheap, and this measurement shows
    // WHY it's not enough: ~6% mean recall on this corpus); and the
    // 2-table multi-probe rule sim_ann_lsh ships (74 probes). n_hit =
    // |approx ∩ exact|, recall as exact integer ppm per strategy — the
    // table that justifies the multi-probe design. The panel is the
    // broadcast side; the exact pass is panel×corpus (20n — linear,
    // NOT all-pairs); rank windows partition by query id — parallel.
    "sim_ann_recall" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = tbl(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            lshBucket(col("embedding"), 0).as("b0"),
            lshBucket(col("embedding"), 1).as("b1"),
            normD(col("embedding")).as("nrm"))
          .localCheckpoint() // consumed by all three passes and the panel
        val q = broadcast(emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("b0").as("qb"), col("nrm").as("qn"),
            probeBuckets2(col("b0")).as("p0"), probeBuckets2(col("b1")).as("p1")))
        val wq = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
        def top5(cand: DataFrame) = cand
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            (dotD(col("embedding"), col("qe")) / (col("nrm") * col("qn"))).as("sim"))
          .withColumn("rk", row_number().over(wq)).filter(col("rk") <= 5)
          .select("qid", "vec_id")
        val exact = top5(emb.crossJoin(q))
        val bucket = top5(emb.join(q, col("b0") === col("qb")))
        val probe = top5(emb.join(q,
          array_contains(col("p0"), col("b0")) ||
            array_contains(col("p1"), col("b1"))))
        exact
          .join(bucket.withColumn("hit_b", lit(1L)), Seq("qid", "vec_id"), "left")
          .join(probe.withColumn("hit_p", lit(1L)), Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(count(lit(1)).as("n_exact"),
            coalesce(sum(col("hit_b")), lit(0L)).as("n_hit_bucket"),
            coalesce(sum(col("hit_p")), lit(0L)).as("n_hit_probe"))
          .withColumn("recall_bucket_ppm", expr("n_hit_bucket * 1000000 div n_exact"))
          .withColumn("recall_probe_ppm", expr("n_hit_probe * 1000000 div n_exact"))
          .orderBy("qid")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding,
              |    ${lshBucketSql("embedding", 0)} AS b0,
              |    ${lshBucketSql("embedding", 1)} AS b1,
              |    ${normSql("embedding")} AS nrm FROM embeddings),
              |q AS (SELECT vec_id AS qid, embedding AS qe, b0 AS qb, nrm AS qn,
              |    ${probeBuckets2Sql("b0")} AS p0, ${probeBuckets2Sql("b1")} AS p1
              |  FROM e WHERE vec_id < 20),
              |exs AS (SELECT q.qid, e.vec_id,
              |    ${dotSql("e.embedding", "qe")} / (e.nrm * q.qn) AS sim
              |  FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
              |ex AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
              |      ORDER BY sim DESC, vec_id) AS rk FROM exs) WHERE rk <= 5),
              |bks AS (SELECT q.qid, e.vec_id,
              |    ${dotSql("e.embedding", "qe")} / (e.nrm * q.qn) AS sim
              |  FROM e JOIN q ON e.b0 = q.qb WHERE e.vec_id <> q.qid),
              |bk AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
              |      ORDER BY sim DESC, vec_id) AS rk FROM bks) WHERE rk <= 5),
              |prs AS (SELECT q.qid, e.vec_id,
              |    ${dotSql("e.embedding", "qe")} / (e.nrm * q.qn) AS sim
              |  FROM e CROSS JOIN q
              |  WHERE e.vec_id <> q.qid AND (list_contains(q.p0, e.b0)
              |    OR list_contains(q.p1, e.b1))),
              |pr AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
              |      ORDER BY sim DESC, vec_id) AS rk FROM prs) WHERE rk <= 5)
              |SELECT ex.qid, CAST(count(*) AS BIGINT) AS n_exact,
              |  CAST(coalesce(sum(CASE WHEN bk.vec_id IS NOT NULL THEN 1 END), 0)
              |    AS BIGINT) AS n_hit_bucket,
              |  CAST(coalesce(sum(CASE WHEN pr.vec_id IS NOT NULL THEN 1 END), 0)
              |    AS BIGINT) AS n_hit_probe,
              |  CAST(divide(coalesce(sum(CASE WHEN bk.vec_id IS NOT NULL THEN 1 END), 0)
              |    * 1000000, count(*)) AS BIGINT) AS recall_bucket_ppm,
              |  CAST(divide(coalesce(sum(CASE WHEN pr.vec_id IS NOT NULL THEN 1 END), 0)
              |    * 1000000, count(*)) AS BIGINT) AS recall_probe_ppm
              |FROM ex
              |LEFT JOIN bk ON bk.qid = ex.qid AND bk.vec_id = ex.vec_id
              |LEFT JOIN pr ON pr.qid = ex.qid AND pr.vec_id = ex.vec_id
              |GROUP BY ex.qid ORDER BY ex.qid""".stripMargin),
      doc = "recall@5 of single-bucket LSH AND 2-table multi-probe LSH " +
        "vs exact brute force over a 20-query panel: exact integer " +
        "n_hit/recall_ppm per strategy — the measurement that " +
        "justifies sim_ann_lsh's multi-probe design"),

    // IVF tuning curve: recall@5 AND corpus-share-scanned for
    // nprobe ∈ {1,2,4,8} over the 16-cell IVF assignment, micro-
    // averaged across the 20-query panel against exact brute-force
    // ground truth — the recall-vs-cost table that picks an ANN
    // deployment's operating point (sim_ann_recall justifies the LSH
    // multi-probe design; this is the same measurement for the IVF
    // family, and scanned_ppm is the cost axis recall alone hides).
    // Scale shape: cell assignment is one 16-centroid broadcast pass;
    // every candidate/rank window partitions by (nprobe, query); the
    // only corpus-sized joins are 8-byte-key equi-joins. The exact
    // baseline is panel×corpus — linear, the audit-bounded shape.
    "sim_ivf_nprobe_sweep" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = tbl(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))
          .localCheckpoint() // centroids, panel, corpus, totals
        val cents = broadcast(emb.filter(col("vec_id").between(1, 16))
          .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
            col("nrm").as("cnorm")))
        val assigned = emb.crossJoin(cents)
          .groupBy(col("vec_id"))
          .agg(max(struct(
            (dotD(col("embedding"), col("cvec")) / (col("nrm") * col("cnorm"))).as("s"),
            (-col("cent_id")).as("nid"))).as("best"))
          .select(col("vec_id"), (-col("best.nid")).as("cell"))
        val q = broadcast(emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("nrm").as("qn")))
        val wq = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
        val exact = emb.crossJoin(q).filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            (dotD(col("embedding"), col("qe")) / (col("nrm") * col("qn"))).as("sim"))
          .withColumn("rk", row_number().over(wq)).filter(col("rk") <= 5)
          .select("qid", "vec_id")
        val wc = Window.partitionBy("qid").orderBy(col("csim").desc, col("cell"))
        val cr = broadcast(cents.crossJoin(q)
          .select(col("qid"), col("cent_id").as("cell"),
            (dotD(col("qe"), col("cvec")) / (col("qn") * col("cnorm"))).as("csim"))
          .withColumn("crank", row_number().over(wc).cast("long"))
          .select("qid", "cell", "crank"))
        val cand = emb.join(assigned, Seq("vec_id"))
          .join(cr, Seq("cell"))
          .join(q, Seq("qid"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), col("crank"),
            (dotD(col("embedding"), col("qe")) / (col("nrm") * col("qn"))).as("sim"))
        import s.implicits._
        val ps = broadcast(Seq(1L, 2L, 4L, 8L).toDF("nprobe"))
        val candp = cand.join(ps, col("crank") <= col("nprobe"))
          .localCheckpoint() // approx top-5 + scanned counts
        val wp = Window.partitionBy("nprobe", "qid")
          .orderBy(col("sim").desc, col("vec_id"))
        val approx = candp
          .withColumn("rk", row_number().over(wp)).filter(col("rk") <= 5)
          .select(col("nprobe"), col("qid"), col("vec_id"), lit(1L).as("hit"))
        val scanned = candp.groupBy("nprobe")
          .agg(count(lit(1)).as("n_scanned"))
        val sizes = broadcast(emb.agg(count(lit(1)).as("n_corpus"))
          .crossJoin(q.groupBy().agg(count(lit(1)).as("n_q"))))
        exact.crossJoin(ps)
          .join(approx, Seq("nprobe", "qid", "vec_id"), "left")
          .groupBy("nprobe")
          .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hit"),
            count(lit(1)).as("n_exact"))
          .join(scanned, Seq("nprobe"))
          .crossJoin(sizes)
          .withColumn("recall_ppm", expr("n_hit * 1000000 div n_exact"))
          .withColumn("scanned_ppm",
            expr("n_scanned * 1000000 div (n_q * n_corpus)"))
          .select(col("nprobe"), col("n_hit"), col("n_exact"),
            col("recall_ppm"), col("n_scanned"), col("scanned_ppm"))
          .orderBy("nprobe")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
              |cents AS (SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnorm
              |  FROM e WHERE vec_id BETWEEN 1 AND 16),
              |assigned AS (SELECT vec_id, cell FROM (
              |    SELECT e.vec_id, c.cent_id AS cell,
              |      row_number() OVER (PARTITION BY e.vec_id
              |        ORDER BY ${dotSql("e.embedding", "c.cvec")} / (e.nrm * c.cnorm) DESC, c.cent_id) AS rn
              |    FROM e CROSS JOIN cents c) WHERE rn = 1),
              |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 20),
              |ex AS (SELECT qid, vec_id FROM (
              |    SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
              |      ORDER BY ${dotSql("e.embedding", "qe")} / (e.nrm * q.qn) DESC, e.vec_id) AS rk
              |    FROM e CROSS JOIN q WHERE e.vec_id <> q.qid) WHERE rk <= 5),
              |cr AS (SELECT qid, cell, crank FROM (
              |    SELECT q.qid, c.cent_id AS cell,
              |      CAST(row_number() OVER (PARTITION BY q.qid
              |        ORDER BY ${dotSql("qe", "cvec")} / (q.qn * c.cnorm) DESC, c.cent_id) AS BIGINT) AS crank
              |    FROM cents c CROSS JOIN q)),
              |cand AS (SELECT q.qid, e.vec_id, cr.crank,
              |    ${dotSql("e.embedding", "qe")} / (e.nrm * q.qn) AS sim
              |  FROM e JOIN assigned a ON a.vec_id = e.vec_id
              |  JOIN cr ON cr.cell = a.cell
              |  JOIN q ON q.qid = cr.qid
              |  WHERE e.vec_id <> q.qid),
              |ps AS (SELECT CAST(nprobe AS BIGINT) AS nprobe
              |  FROM (SELECT unnest(list_value(1, 2, 4, 8)) AS nprobe)),
              |candp AS (SELECT p.nprobe, c.qid, c.vec_id, c.sim
              |  FROM cand c JOIN ps p ON c.crank <= p.nprobe),
              |ap AS (SELECT nprobe, qid, vec_id FROM (
              |    SELECT nprobe, qid, vec_id, row_number() OVER (PARTITION BY nprobe, qid
              |      ORDER BY sim DESC, vec_id) AS rk FROM candp) WHERE rk <= 5),
              |sc AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_scanned
              |  FROM candp GROUP BY 1),
              |hits AS (SELECT p.nprobe,
              |    CAST(coalesce(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_hit,
              |    CAST(count(*) AS BIGINT) AS n_exact
              |  FROM ex CROSS JOIN ps p
              |  LEFT JOIN ap ON ap.nprobe = p.nprobe AND ap.qid = ex.qid AND ap.vec_id = ex.vec_id
              |  GROUP BY 1),
              |sizes AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_corpus,
              |    (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_q)
              |SELECT h.nprobe, n_hit, n_exact,
              |  CAST(divide(n_hit * 1000000, n_exact) AS BIGINT) AS recall_ppm,
              |  n_scanned,
              |  CAST(divide(n_scanned * 1000000, n_q * n_corpus) AS BIGINT) AS scanned_ppm
              |FROM hits h JOIN sc ON sc.nprobe = h.nprobe CROSS JOIN sizes
              |ORDER BY h.nprobe""".stripMargin),
      doc = "IVF recall-vs-cost tuning curve: micro-averaged recall@5 " +
        "and exact corpus-share scanned for nprobe 1/2/4/8 against the " +
        "brute-force ground truth over the 20-query panel"),

    // Hard-negative mining: for each query in the 20-vector panel, the
    // top-3 most-cosine-similar vectors carrying a DIFFERENT label —
    // the training pairs a contrastive/embedding fine-tune actually
    // wants (easy negatives teach nothing; the hardest ones define the
    // decision boundary). Self-pairs are excluded for free: a vector
    // shares its own label. Exact panel×corpus pass (20n — linear, the
    // sim_ann_recall baseline shape); at 100 TB the same query runs
    // against ivfProbe candidates instead of the full corpus — this
    // registered form is the audit baseline the probe variant would be
    // graded against. Rank windows partition by query id — parallel;
    // the cosine is the established identical-IEEE-ops float (rounded
    // at 6, past any tie ambiguity the row_number tiebreak can't absorb).
    "sim_hard_negatives" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = tbl(s, d, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding"),
            normD(col("embedding")).as("nrm"))
          .localCheckpoint() // panel + corpus sides
        val q = broadcast(emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("label").as("label_q"),
            col("embedding").as("qe"), col("nrm").as("qn")))
        val wq = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
        emb.crossJoin(q)
          .filter(col("label") =!= col("label_q"))
          .select(col("qid"), col("label_q"), col("vec_id"),
            col("label").as("label_n"),
            (dotD(col("embedding"), col("qe")) / (col("nrm") * col("qn"))).as("sim"))
          .withColumn("rk", row_number().over(wq).cast("long"))
          .filter(col("rk") <= 3)
          .withColumn("sim6", round(col("sim"), 6))
          .select(col("qid"), col("label_q"), col("vec_id"), col("label_n"),
            col("rk"), col("sim6"))
          .orderBy("qid", "rk")
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding,
              |    ${normSql("embedding")} AS nrm FROM embeddings),
              |q AS (SELECT vec_id AS qid, label AS label_q, embedding AS qe, nrm AS qn
              |  FROM e WHERE vec_id < 20),
              |sims AS (SELECT q.qid, q.label_q, e.vec_id, e.label AS label_n,
              |    ${dotSql("e.embedding", "qe")} / (e.nrm * q.qn) AS sim
              |  FROM e CROSS JOIN q WHERE e.label <> q.label_q),
              |r AS (SELECT qid, label_q, vec_id, label_n, sim,
              |    CAST(row_number() OVER (PARTITION BY qid
              |      ORDER BY sim DESC, vec_id) AS BIGINT) AS rk
              |  FROM sims)
              |SELECT qid, label_q, vec_id, label_n, rk, round(sim, 6) AS sim6
              |FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin),
      doc = "contrastive hard-negative mining: top-3 cross-label cosine " +
        "neighbors per panel query — exact linear panel x corpus pass, " +
        "per-query parallel rank windows"),

    // Embedding drift / cluster-separation monitor: pairwise cosine
    // between per-label centroid vectors — the embedding-space health
    // check a training pipeline runs between corpus snapshots (two
    // labels whose centroids converge signal label noise or encoder
    // drift). Cross-row float sums are order-dependent, so the corpus
    // pass quantizes each coordinate to exact integer micro
    // (round(x·1e6) — float32·1e6 is exact in double, and both engines
    // round half away from zero), making every per-(label,dim) sum an
    // exact 64-bit integer; the ONLY float ops are the final
    // sqrt/divide on identical integers — the same IEEE ops in both
    // engines, so the rounded cosine is bit-stable. Scale shape: one
    // posexplode pass with map-side combine into (labels × dims) rows,
    // then a broadcast self-join on dim over that tiny centroid table;
    // the corpus is touched exactly once.
    "sim_centroid_drift" -> QueryDef(
      (s, d) => {
        val cent = tbl(s, d, "embeddings")
          .select(col("label"),
            transform(col("embedding"),
              x => round(x.cast("double") * 1000000d).cast("long")).as("em"))
          .select(col("label"), posexplode(col("em")).as(Seq("p0", "v")))
          .select(col("label"), (col("p0") + 1).cast("long").as("pos"), col("v"))
          .groupBy("label", "pos")
          // coordinate sums go NEGATIVE, where DuckDB's divide() floors
          // and Spark's div truncates — route through |sum| so both
          // engines truncate toward zero identically
          .agg(expr("case when sum(v) >= 0 then sum(v) div count(1)" +
            " else -((-sum(v)) div count(1)) end").as("c"))
          .localCheckpoint() // labels x dims rows; both join sides read it
        val a = cent.select(col("label").as("label_a"), col("pos"),
          col("c").as("ca"))
        val b = cent.select(col("label").as("label_b"), col("pos"),
          col("c").as("cb"))
        a.join(broadcast(b), Seq("pos"))
          .filter(col("label_a") < col("label_b"))
          .groupBy("label_a", "label_b")
          .agg(count(lit(1)).as("dim"),
            sum(col("ca") * col("cb")).as("dot"),
            sum(col("ca") * col("ca")).as("na2"),
            sum(col("cb") * col("cb")).as("nb2"))
          .withColumn("cos6", round(col("dot").cast("double")
            / (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))), 6))
          .select(col("label_a"), col("label_b"), col("dim"), col("dot"),
            col("na2"), col("nb2"), col("cos6"))
          .orderBy("label_a", "label_b")
      },
      Some("""WITH e AS (SELECT label, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS em
             |  FROM embeddings),
             |p AS (SELECT label, em,
             |    unnest(generate_series(1, len(em))) AS pos FROM e),
             |m AS (SELECT label, CAST(pos AS BIGINT) AS pos,
             |    list_extract(em, CAST(pos AS INTEGER)) AS v FROM p),
             |cent AS (SELECT label, pos,
             |    CAST(CASE WHEN sum(v) >= 0 THEN divide(sum(v), count(*))
             |      ELSE -divide(-sum(v), count(*)) END AS BIGINT) AS c
             |  FROM m GROUP BY 1, 2),
             |pr AS (SELECT a.label AS label_a, b.label AS label_b,
             |    a.c AS ca, b.c AS cb
             |  FROM cent a JOIN cent b ON b.pos = a.pos AND a.label < b.label),
             |agg AS (SELECT label_a, label_b, CAST(count(*) AS BIGINT) AS dim,
             |    CAST(sum(ca * cb) AS BIGINT) AS dot,
             |    CAST(sum(ca * ca) AS BIGINT) AS na2,
             |    CAST(sum(cb * cb) AS BIGINT) AS nb2
             |  FROM pr GROUP BY 1, 2)
             |SELECT label_a, label_b, dim, dot, na2, nb2,
             |  round(CAST(dot AS DOUBLE)
             |    / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))), 6) AS cos6
             |FROM agg ORDER BY label_a, label_b""".stripMargin),
      doc = "pairwise per-label centroid cosine: exact integer-micro " +
        "coordinate sums (order-independent), float only in the final " +
        "sqrt/divide on identical integers — bit-stable across engines"),

    // Dominant principal component of the embedding corpus by THREE
    // integer-exact power-iteration steps on the (un-normalized)
    // covariance — the whitening/drift diagnostic an embedding pipeline
    // reads before PCA/IVF tuning ("which direction carries the
    // variance, and how lopsided is it?"). Everything is the q55
    // recurrence discipline: milli-quantized coordinates (order-
    // independent 64-bit sums), covariance as n·Σxy − Σx·Σy per (j,k),
    // a driver-free rescale to ≤1e6 via one in-plan max (sign-safe
    // truncating div, the q93 CASE idiom), then v ← rescale(C·v) three
    // times from the all-ones start — both engines replay the identical
    // integer recurrence, so the oracle unrolls it as chained CTEs.
    // Scale shape: the only corpus-sized stage is the (vec_id)-keyed
    // self-join producing d² partial products per row (linear in n,
    // map-side combinable); everything after the (j,k) agg is a fixed
    // d² = 4096-row control table (localCheckpointed once). 64-bit
    // bounds: |m| ≤ ~2e3 milli ⇒ Σxy ≤ 4e6·n — safe to n ≈ 2e12 rows;
    // past that, quantize coarser (the q55 R0 rescaling note).
    "sim_pca_power" -> QueryDef(
      (s, d) => {
        // sign-safe truncating div (both engines truncate toward zero
        // only for non-negatives; the CASE makes the negative branch
        // explicit — q93 discipline)
        def sdiv(x: String, y: String) =
          s"CASE WHEN $x >= 0 THEN $x div ($y) ELSE -((-($x)) div ($y)) END"
        val q = tbl(s, d, "embeddings")
          .select(col("vec_id"), transform(col("embedding"),
            x => round(x.cast("double") * 1000).cast("long")).as("q"))
        val m = q.select(col("vec_id"), posexplode(col("q")))
          .select(col("vec_id"), (col("pos") + 1).cast("long").as("j"),
            col("col").as("m"))
        val nRow = m.agg(expr("count(1) div 64").as("n"))
        val s1 = m.groupBy("j").agg(sum(col("m")).as("s1"))
        // Outer product IN-TASK (r13 optimization round): the former
        // spelling self-joined the exploded element table on vec_id —
        // an exchange of n·d rows on BOTH sides feeding the (j,k) agg —
        // when every (m_j·m_k) term is a function of ONE embedding row.
        // Two chained generators expand each row to its d² products in
        // the scan stage and the partial hash agg collapses them to d²
        // partials per task before the only exchange (d² = 4096 rows).
        // Same product multiset per (j,k) ⇒ identical integer sums.
        val s2 = q.select(posexplode(col("q")).as(Seq("pj", "mj")), col("q"))
          .select(col("pj"), col("mj"), posexplode(col("q")).as(Seq("pk", "mk")))
          .select((col("pj") + 1).cast("long").as("j"),
            (col("pk") + 1).cast("long").as("k"),
            (col("mj") * col("mk")).as("p"))
          .groupBy("j", "k").agg(sum(col("p")).as("s2"))
        val cov = s2
          .join(s1, Seq("j"))
          .join(s1.select(col("j").as("k"), col("s1").as("s1k")), Seq("k"))
          .crossJoin(broadcast(nRow))
          .select(col("j"), col("k"), expr("n * s2 - s1 * s1k").as("cov"))
          .localCheckpoint() // fixed d² rows; feeds D + 3 iterations
        val dScale = cov.agg(expr("max(abs(cov)) div 1000000 + 1").as("dd"))
        val c = cov.crossJoin(broadcast(dScale))
          .select(col("j"), col("k"), expr(sdiv("cov", "dd")).as("c"))
          .localCheckpoint() // ≤1e6 entries, reused by every step
        def step(v: DataFrame): DataFrame = {
          val mv = c.join(v, Seq("k")).groupBy("j")
            .agg(sum(expr("c * v")).as("w"))
          val mx = mv.agg(expr("greatest(max(abs(w)), 1) div 1000000 + 1").as("sc"))
          mv.crossJoin(broadcast(mx))
            .select(col("j").as("k"), expr(sdiv("w", "sc")).as("v"))
        }
        var v = s1.select(col("j").as("k"), lit(1000000L).as("v"))
        for (_ <- 1 to 3) v = step(v)
        cov.filter(col("j") === col("k"))
          .select(col("j").as("dim"), col("cov").as("var_q"))
          .join(v.select(col("k").as("dim"), col("v").as("v3")), Seq("dim"))
          .select(col("dim"), col("var_q"), col("v3"))
          .orderBy("dim")
      },
      Some("""WITH m AS (SELECT vec_id, j,
             |    CAST(round(CAST(list_extract(embedding, j) AS DOUBLE) * 1000) AS BIGINT) AS m
             |  FROM (SELECT vec_id, embedding,
             |          unnest(generate_series(1, len(embedding))) AS j
             |        FROM embeddings)),
             |nr AS (SELECT CAST(divide(count(*), 64) AS BIGINT) AS n FROM m),
             |s1 AS (SELECT j, CAST(sum(m) AS BIGINT) AS s1 FROM m GROUP BY 1),
             |s2 AS (SELECT a.j AS j, b.j AS k, CAST(sum(a.m * b.m) AS BIGINT) AS s2
             |  FROM m a JOIN m b ON a.vec_id = b.vec_id GROUP BY 1, 2),
             |cov AS (SELECT s2.j, s2.k, n * s2 - sa.s1 * sb.s1 AS cov
             |  FROM s2 JOIN s1 sa ON sa.j = s2.j JOIN s1 sb ON sb.j = s2.k
             |  CROSS JOIN nr),
             |dd AS (SELECT divide(max(abs(cov)), 1000000) + 1 AS dd FROM cov),
             |c AS (SELECT j, k, CASE WHEN cov >= 0 THEN divide(cov, dd)
             |        ELSE -divide(-cov, dd) END AS c
             |  FROM cov CROSS JOIN dd),
             |w1 AS (SELECT j, CAST(sum(c * 1000000) AS BIGINT) AS w FROM c GROUP BY 1),
             |x1 AS (SELECT divide(greatest(max(abs(w)), 1), 1000000) + 1 AS sc FROM w1),
             |v1 AS (SELECT j AS k, CASE WHEN w >= 0 THEN divide(w, sc)
             |        ELSE -divide(-w, sc) END AS v FROM w1 CROSS JOIN x1),
             |w2 AS (SELECT c.j, CAST(sum(c.c * v1.v) AS BIGINT) AS w
             |  FROM c JOIN v1 ON v1.k = c.k GROUP BY 1),
             |x2 AS (SELECT divide(greatest(max(abs(w)), 1), 1000000) + 1 AS sc FROM w2),
             |v2 AS (SELECT j AS k, CASE WHEN w >= 0 THEN divide(w, sc)
             |        ELSE -divide(-w, sc) END AS v FROM w2 CROSS JOIN x2),
             |w3 AS (SELECT c.j, CAST(sum(c.c * v2.v) AS BIGINT) AS w
             |  FROM c JOIN v2 ON v2.k = c.k GROUP BY 1),
             |x3 AS (SELECT divide(greatest(max(abs(w)), 1), 1000000) + 1 AS sc FROM w3),
             |v3 AS (SELECT j AS k, CASE WHEN w >= 0 THEN divide(w, sc)
             |        ELSE -divide(-w, sc) END AS v FROM w3 CROSS JOIN x3)
             |SELECT cov.j AS dim, cov.cov AS var_q, v3.v AS v3
             |FROM cov JOIN v3 ON v3.k = cov.j WHERE cov.j = cov.k
             |ORDER BY dim""".stripMargin),
      doc = "3-step integer power iteration on the milli-quantized " +
        "embedding covariance: dominant principal direction + per-dim " +
        "variance, q55-style recurrence both engines replay bit-for-bit")
  )
}

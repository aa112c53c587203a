package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Execution-config invariance gate (r12): every registered query must
  * produce the bit-identical result MULTISET under execution configs a
  * real cluster would differ on — shuffle partition count (5 and 256 vs
  * the local 32), AQE off, auto-broadcast disabled (plans fall back to
  * shuffle joins), whole-stage codegen off (expressions run INTERPRETED
  * — the fallback path a real cluster takes whenever generated code
  * fails to compile), shuffled-hash-join preference, and 1 MiB input
  * splits (a 100 TB scan has ~10^5 more splits than sf0.01; per-split
  * ordering must not leak into results).
  *
  * Why this is a correctness gate and not a perf experiment: the DuckDB
  * oracle proves each query exact under ONE fixed config (local[32],
  * 32 shuffle partitions). Nothing in that gate stops a query from
  * being exact only BECAUSE of that config — a float sum whose rounding
  * happens to match at 32 partitions, a collect_list order stable only
  * under one merge tree, a tie-break that follows partition layout. On
  * a 1000-executor cluster every one of these knobs changes, so a
  * config-dependent query is a wrong-at-scale query. The repo's
  * integer-exactness discipline (Qh scaladoc) exists precisely to make
  * results config-invariant; this main MEASURES that claim over the
  * whole surface instead of arguing it.
  *
  * Digest: rows are reduced order-insensitively but
  * multiplicity-sensitively — per row md5(to_json(struct(columns in
  * sorted name order))), first 15 hex digits as DECIMAL(38,0), summed,
  * plus count(*). The aggregation itself is commutative/exact, so the
  * digest cannot depend on the config under test.
  *
  * Beyond the conf variants there is one DATA variant, "shuffledLayout":
  * the same logical tables, row-shuffled (by a content hash) and re-filed
  * into a different file count. It must digest-match too — at 100 TB,
  * file layout is arbitrary (compaction, ingestion parallelism), so any
  * implicit "first seen"/head-of-file dependence is wrong at scale.
  *
  * Memo-backed queries (cluster table, IVFPQ index, layout tables) build
  * their artifact once under the BASE config (base runs first per
  * query) and every conf variant reads the same artifact — those prove
  * read-path invariance. The shuffledLayout variant keys a SEPARATE memo
  * (memos key by corpus dir), so it re-runs the build path on reordered
  * data: labels/centroids/codebooks must be content-derived, never
  * order-derived.
  *
  * Usage: `runMain graft.ConfigSweep [--queries a,b | --exclude a,b]
  * [sfDir]` (default /root/testdata/sf0.01). Writes CONFIGSWEEP.json
  * (per-query per-variant digests + mismatches) and prints one JSON
  * summary line; exits 1 on any non-exempt mismatch.
  */
object ConfigSweep {

  /** Variant name → runtime SQL confs that define it. Applied on top of
    * the base session (local[cpus], shuffle.partitions=cpus, AQE at the
    * Spark 4 default ON) and reset after each variant run. */
  val variants: Seq[(String, Map[String, String])] = Seq(
    "parts5"      -> Map("spark.sql.shuffle.partitions" -> "5"),
    "parts256"    -> Map("spark.sql.shuffle.partitions" -> "256"),
    "aqeOff"      -> Map("spark.sql.adaptive.enabled" -> "false"),
    "noBroadcast" -> Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "noCodegen"   -> Map("spark.sql.codegen.wholeStage" -> "false"),
    "hashJoin"    -> Map("spark.sql.join.preferSortMergeJoin" -> "false"),
    "smallSplits" -> Map("spark.sql.files.maxPartitionBytes" -> "1048576",
                         "spark.sql.files.openCostInBytes" -> "0"),
    // Force the spill paths: at 100 TB the window/SMJ row buffers and
    // hash aggregates spill as a matter of course; locally they almost
    // never do. A query whose result depends on the in-memory vs
    // spilled representation (iterator order out of a spilled buffer,
    // sort-based agg fallback merge order) is wrong at scale even
    // though every other local variant agrees.
    "spilly"      -> Map(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "16",
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "16",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "16"))

  /** Queries whose output may LEGITIMATELY vary with execution config,
    * each with the declared reason (mirrors fit_scaling.py's justified
    * list — an exemption without a reason is a gate failure waiting to
    * be written). They still must RUN under every variant. */
  val exempt: Map[String, String] = Map(
    "q42_approx_quantile" -> ("percentile_approx merges per-partition " +
      "QuantileSummaries sketches; the merged sketch (and thus the " +
      "returned quantile within its declared epsilon) depends on the " +
      "partition merge tree — the documented contract of the sketch, " +
      "ScalaTest-gated against the exact quantile, no_oracle by design"),
    "q43_approx_freq" -> ("approximate heavy-hitter counts share the " +
      "same sketch-merge-order contract; bounded-error asserted in " +
      "OperatorSpec, no_oracle by design"))

  /** Order-insensitive, multiplicity-exact digest of a DataFrame:
    * "rowcount:sum(first-60-bits of md5(row json))". Sensitivity is
    * pinned by ConfigDigestSpec — a degenerate digest (constant, or
    * blind to values/multiplicity) would silently green the whole
    * sweep. Column order is canonicalized by name so SELECT order
    * cannot leak in; sums stay exact in DECIMAL(38,0) (2^60 per row ×
    * even 10^12 rows < 10^31). */
  def digestOf(df: DataFrame): String = {
    // to_json emits map entries in the map's INTERNAL order and (by
    // ignoreNullFields) omits null struct fields — two logically-equal
    // maps can render differently and falsely RED the sweep. No
    // registered query outputs a map (maps are internal-only, e.g.
    // q24 reduces them to scalar/array projections before output);
    // this assert keeps that constraint loud instead of letting a
    // future map-returning query red here mysteriously. To lift it,
    // canonicalize (map_entries + array_sort) before hashing.
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
      case _ => false
    }
    require(!df.schema.fields.exists(f => hasMap(f.dataType)),
      "digestOf cannot hash MapType columns (to_json renders internal entry " +
        "order): canonicalize with array_sort(map_entries(...)) in the query " +
        s"output first — schema was ${df.schema.simpleString}")
    val cols = df.columns.sorted.toIndexedSeq.map(c => df.col(s"`$c`"))
    val row = Qh.boundedHead(
      df.select(md5(to_json(struct(cols: _*))).as("__h"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(expr(
            "CAST(conv(substring(__h, 1, 15), 16, 10) AS DECIMAL(38,0))")),
            lit(java.math.BigDecimal.ZERO)).as("s")),
      "ConfigSweep digest — global 1-row aggregate")
    s"${row.getLong(0)}:${row.getDecimal(1).toBigInteger}"
  }

  def main(args: Array[String]): Unit = {
    val (queryFilter, excludeSet, dirArgs) = args.toSeq match {
      case "--queries" +: qs +: rest => (Some(qs.split(',').toSet), Set.empty[String], rest)
      case "--exclude" +: qs +: rest => (None, qs.split(',').toSet, rest)
      case rest => (None, Set.empty[String], rest)
    }
    val sfDir = dirArgs.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession()

    // original values of every conf any variant touches, for restoration
    val touched = variants.flatMap(_._2.keys).distinct
    val original: Map[String, Option[String]] =
      touched.map(k => k -> util.Try(spark.conf.get(k)).toOption).toMap
    def withConfs[A](confs: Map[String, String])(f: => A): A = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try f
      finally confs.keys.foreach { k =>
        original(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None    => spark.conf.unset(k)
        }
      }
    }

    /** (digest, "") — or ("", error marker). */
    def digest(name: String, fn: (SparkSession, String) => DataFrame,
        dir: String = sfDir): (String, String) =
      try (digestOf(fn(spark, dir)), "")
      catch { case e: Throwable =>
        ("", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      }

    // validate the --queries/--exclude names BEFORE the multi-minute
    // shuffled-layout materialization (r12 ADVICE: a typo used to waste
    // the whole build before failing)
    (queryFilter.getOrElse(Set.empty) ++ excludeSet).foreach { q =>
      require(SparkEntry.queries.contains(q), s"query name not registered: $q")
    }

    // ---- physical-layout variant: same logical tables, deterministically
    // row-shuffled and re-filed. At 100 TB, file count and row order are
    // arbitrary (compaction, ingestion parallelism, re-partitioning);
    // a query whose result depends on encounter order — an implicit
    // "first seen" tie-break, a head-of-file assumption — passes the
    // oracle on the original layout and silently flips on any other.
    // Memo-backed queries (clusters, IVFPQ, layouts) key their memo by
    // corpus dir, so this variant also re-runs their BUILD path on the
    // shuffled layout: labels/centroids/codebooks must be content-
    // derived, never order-derived.
    val shuffledDir = s"/tmp/graft_shuffled_${new java.io.File(sfDir).getName}"
    val shufMarker = new java.io.File(shuffledDir, "_GRAFT_SHUFFLED_OK")
    // The marker carries a fingerprint of the SOURCE files (name, size,
    // mtime): the driver regenerates testdata between rounds, and a
    // shuffled copy of the OLD data would digest-mismatch every query —
    // a false RED that looks like a real order-dependence bug.
    val srcFingerprint = Tables.names.map { t =>
      val f = new java.io.File(s"$sfDir/$t.parquet")
      def walk(x: java.io.File): Seq[java.io.File] =
        if (x.isDirectory) x.listFiles().toSeq.sortBy(_.getName).flatMap(walk) else Seq(x)
      walk(f).map(x => s"${x.getName}:${x.length}:${x.lastModified}").mkString(s"$t[", ",", "]")
    }.mkString("\n")
    val markerFresh = shufMarker.exists() &&
      java.nio.file.Files.readString(shufMarker.toPath) == srcFingerprint
    if (!markerFresh) {
      System.err.println(s"[sweep] materializing shuffled layout at $shuffledDir")
      Qh.deleteTree(new java.io.File(shuffledDir))
      Tables.names.foreach { t =>
        val df = spark.read.parquet(s"$sfDir/$t.parquet")
        val allCols = df.columns.toIndexedSeq.map(c => df.col(s"`$c`"))
        df.withColumn("__k", xxhash64(struct(allCols: _*)))
          .repartitionByRange(7, col("__k"))
          .sortWithinPartitions("__k")
          .drop("__k")
          .write.mode("overwrite").parquet(s"$shuffledDir/$t.parquet")
      }
      java.nio.file.Files.writeString(shufMarker.toPath, srcFingerprint)
    }

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => queryFilter.forall(_.contains(n)) && !excludeSet.contains(n) }

    case class Miss(query: String, variant: String, base: String, got: String, err: String)
    val misses = scala.collection.mutable.ArrayBuffer[Miss]()
    val results = scala.collection.mutable.LinkedHashMap[String, Map[String, String]]()
    var done = 0
    selected.foreach { case (name, fn) =>
      val (baseDig, baseErr) = digest(name, fn)
      if (baseErr.nonEmpty)
        misses += Miss(name, "base", "", "", baseErr)
      // A broken base run is ONE red (above) — a variant that then runs
      // fine has nothing to compare against, and recording it as a Miss
      // too would bury the real failure under misleading entries (r12
      // ADVICE). Variants still red on their OWN errors or divergences.
      val perVariant = variants.map { case (vname, confs) =>
        val (d, err) = withConfs(confs)(digest(name, fn))
        val agree = err.isEmpty && d == baseDig
        if (baseErr.isEmpty && !agree && !(exempt.contains(name) && err.isEmpty))
          misses += Miss(name, vname, baseDig, d, err)
        vname -> (if (err.nonEmpty) s"ERR $err" else d)
      }.toMap
      val (shufDig, shufErr) = digest(name, fn, shuffledDir)
      val shufAgree = shufErr.isEmpty && shufDig == baseDig
      if (baseErr.isEmpty && !shufAgree && !(exempt.contains(name) && shufErr.isEmpty))
        misses += Miss(name, "shuffledLayout", baseDig, shufDig, shufErr)
      results(name) = perVariant +
        ("base" -> (if (baseErr.nonEmpty) s"ERR $baseErr" else baseDig)) +
        ("shuffledLayout" -> (if (shufErr.nonEmpty) s"ERR $shufErr" else shufDig))
      done += 1
      if (done % 20 == 0)
        System.err.println(s"[sweep] $done/${selected.size} done, ${misses.size} mismatches so far")
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val missJson = misses.map(m =>
      s"""{"query":${q(m.query)},"variant":${q(m.variant)},"base":${q(m.base)},"got":${q(m.got)},"err":${q(m.err)}}""")
      .mkString("[", ",", "]")
    val resJson = results.map { case (n, per) =>
      q(n) + ":" + per.toSeq.sortBy(_._1).map { case (v, d) => q(v) + ":" + q(d) }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val exemptJson = exempt.toSeq.sortBy(_._1)
      .map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}")
    val summary = s"""{"metric":"config_sweep","sf":${q(sfDir)},"queries":${selected.size},""" +
      s""""variants":${variants.size + 1},"mismatches":${missJson},"exempt":$exemptJson,""" +
      s""""digests":$resJson}"""
    // default-sf artifact keeps the judge_gate-referenced name; other sfs
    // (the scale-dependence check) get their own file. FILTERED runs
    // (judge_gate's touched-subset lane) must not clobber the committed
    // full-surface record — they write a /tmp sidecar instead.
    val base = new java.io.File(sfDir).getName
    val artifact =
      if (queryFilter.nonEmpty || excludeSet.nonEmpty) s"/tmp/CONFIGSWEEP_partial_$base.json"
      else if (base == "sf0.01") "CONFIGSWEEP.json"
      else s"CONFIGSWEEP_$base.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), summary)
    println(s"""{"metric":"config_sweep","sf":${q(sfDir)},"queries":${selected.size},""" +
      s""""variants":${variants.size + 1},"mismatch_count":${misses.size},""" +
      s""""mismatched":${misses.map(m => q(m.query + "@" + m.variant)).distinct.mkString("[", ",", "]")}}""")
    spark.stop()
    if (misses.nonEmpty) sys.exit(1)
  }
}

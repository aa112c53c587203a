package graft.operators

import graft.{QueryDef, Qh}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: tokenization +
  * top-token frequencies (Q27), language-ID heuristic, quality scoring,
  * token counting, and document fingerprinting — the LLM-training-data
  * pipeline surface mandated by BASELINE.json alongside the reference's
  * T17 topic extraction (internal/topic_generation/topic_generation.go).
  *
  * All scoring is pure column arithmetic (whole-stage codegen, no UDFs);
  * ratios are int/int divisions so both engines produce identical doubles.
  */
object TextOps {
  import Qh._

  /** Stopword list used across queries (fixed, tiny — broadcast-literal). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is", "on", "for", "it")

  /** text_chunk window geometry: tokens per chunk / stride between chunk
    * starts — 16-token overlap at these defaults. Declared BEFORE `defs`:
    * the oracle SQL interpolates them at object init. */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** pack_sequences context-window length (tokens) and sample_shuffle
    * shard fan-out. Declared BEFORE `defs`: the oracle SQL interpolates
    * them at object init. */
  val SeqLen = 512L
  val ShuffleShards = 8L

  /** Default doc_id bucket count of [[packSequences]]' prefix sum. */
  val PackBuckets = 256
  private def stopSql = Stopwords.map(w => s"'$w'").mkString("list_value(", ", ", ")")

  /** Per-language marker words for the n-gram/function-word language-ID
    * heuristic. Deterministic tie-break: list order below. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "data", "table"),
    "es" -> Seq("data", "part", "row", "batch"),
    "de" -> Seq("hash", "key", "window", "group"),
    "fr" -> Seq("merge", "sort", "stream", "value"),
    "zh" -> Seq("spark", "join", "scan", "column"))

  /** Shared marker-word langid scorer (text_langid + text_langid_eval):
    * per-language marker hit counts, argmax with first-language-wins
    * ties (declaration order). Returns (doc_id, lang, predicted). */
  private def langidScored(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = split(col("text"), " ")
    val scored = LangMarkers.foldLeft(docs.withColumn("toks", t)) {
      case (df, (lang, markers)) =>
        df.withColumn(s"s_$lang",
          size(filter(col("toks"), x => x.isin(markers: _*))).cast("long"))
    }
    val langs = LangMarkers.map(_._1)
    val pred = langs.init.foldRight(lit(langs.last)) { (l, elseCol) =>
      val others = langs.filterNot(_ == l).map(o => col(s"s_$o"))
      when(col(s"s_$l") >= greatest(others: _*), lit(l)).otherwise(elseCol)
    }
    scored.select(col("doc_id"), col("lang"), pred.as("predicted"))
  }

  /** SQL twin of [[langidScored]]: (score projections, predictor CASE). */
  private def langidPredSql: (String, String) = {
    val scores = LangMarkers.map { case (l, ms) =>
      val lst = ms.map(m => s"'$m'").mkString("list_value(", ", ", ")")
      s"CAST(len(list_filter(string_split(text, ' '), x -> list_contains($lst, x))) AS BIGINT) AS s_$l"
    }.mkString(",\n    ")
    val langs = LangMarkers.map(_._1)
    val pred = langs.init.foldRight(s"'${langs.last}'") { (l, e) =>
      val others = langs.filterNot(_ == l).map(o => s"s_$o").mkString(", ")
      s"CASE WHEN s_$l >= greatest($others) THEN '$l' ELSE $e END"
    }
    (scores, pred)
  }

  /** Process-lifetime memo of the eval-set bloom filter, keyed by
    * (corpus dir, shingle cap) — see text_decontam_bloom: eval sets are
    * fixed artifacts, and the corpus under a dir is ASSUMED immutable for
    * the process (the cluster-table memo's contract, Dedup.clustersTable).
    * Regenerating a dir in-process requires [[invalidateBloomMemo]], or
    * the stale filter could bloom-drop shingles that only the NEW eval
    * set contains — the one way the "output ≡ text_contamination"
    * guarantee can be broken from outside. */
  private val bloomMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), graft.functions.Bloom.Filter]()

  /** Drop the memoized eval filter for `dir` (or all dirs) — required
    * before re-reading a corpus dir whose content changed in-process. */
  def invalidateBloomMemo(dir: String = null): Unit =
    if (dir == null) bloomMemo.clear()
    else bloomMemo.keySet.removeIf(_._1 == dir): Unit

  /** Shared decontamination oracle: text_contamination (shuffle equi-join)
    * and text_decontam_bloom (bloom prefilter + exact verify) declare the
    * SAME semantics, so both gate against this one SQL text — the bloom
    * path's false positives must be invisible in the output. */
  private lazy val decontamOracleSql: String =
    s"""WITH sh AS (SELECT doc_id, ${Dedup.shingles3Sql(Dedup.tokHashesSeqSql("text"))} AS sh FROM documents),
       |bench AS (SELECT doc_id AS bench_id, unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
       |corpus AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 97 <> 0)
       |SELECT c.doc_id, CAST(COUNT(DISTINCT c.g) AS BIGINT) AS n_shared,
       |  MIN(b.bench_id) AS first_bench
       |FROM corpus c JOIN bench b ON c.g = b.g
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(

    // Q27 — tokenize + stopword-filter + per-lang top-5 token frequencies
    // (ties broken alphabetically). Reference: T17 topic extraction.
    "q27_text_top_tokens" -> QueryDef(
      (s, d) => {
        val toksAll = split(col("text"), " ")
        val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("token"))
        tbl(s, d, "documents")
          .select(col("lang"), explode(toksAll).as("token"))
          .filter(!col("token").isin(Stopwords: _*))
          .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
          .select(col("lang"), col("token"), col("cnt"), col("rn"))
          .orderBy("lang", "rn")
      },
      Some(s"""SELECT lang, token, cnt, rn FROM (
              |  SELECT lang, token, cnt,
              |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS BIGINT) AS rn
              |  FROM (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS cnt
              |        FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
              |        WHERE NOT list_contains($stopSql, token)
              |        GROUP BY lang, token))
              |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin)),

    // TF-IDF top terms per source (each source = one aggregate document):
    // tf = in-source term count, df = #sources containing the term,
    // score_milli = (tf * 1000 * N) div df — an integer-scaled idf, so
    // the whole ranking is exact integer arithmetic (no transcendental
    // log whose last-ulp could differ between engines). One explode +
    // two hash aggregations + a broadcast scalar — fully distributed.
    "text_tfidf" -> QueryDef(
      (s, d) => {
        val toks = tbl(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "" && !col("token").isin(Stopwords: _*))
        val tf = toks.groupBy("source", "token").agg(count(lit(1)).as("tf"))
        val dfx = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val n = tbl(s, d, "documents").select(countDistinct("source").as("n_src"))
        val w = Window.partitionBy("source").orderBy(col("score_milli").desc, col("token"))
        tf.join(dfx, Seq("token")).crossJoin(broadcast(n))
          .withColumn("score_milli", expr("(tf * 1000 * n_src) div df"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
          .select(col("source"), col("token"), col("tf"), col("df"), col("score_milli"), col("rn"))
          .orderBy("source", "rn")
      },
      Some(s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
              |tf AS (SELECT source, token, CAST(count(*) AS BIGINT) AS tf FROM toks
              |       WHERE token <> '' AND NOT list_contains($stopSql, token)
              |       GROUP BY source, token),
              |dfx AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
              |n AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_src FROM documents)
              |SELECT source, token, tf, df, score_milli, rn FROM (
              |  SELECT source, token, tf, df, score_milli,
              |    CAST(row_number() OVER (PARTITION BY source ORDER BY score_milli DESC, token) AS BIGINT) AS rn
              |  FROM (SELECT tf.source, tf.token, tf.tf, dfx.df,
              |          divide(tf.tf * 1000 * n.n_src, dfx.df) AS score_milli
              |        FROM tf JOIN dfx USING (token) CROSS JOIN n))
              |WHERE rn <= 5 ORDER BY source, rn""".stripMargin),
      doc = "integer-scaled TF-IDF ranking per source; exact arithmetic, no log()"),

    // Language-ID: marker-word frequency scoring with a fixed tie-break
    // order (north-star "text analysis"; n-gram heuristic family).
    "text_langid" -> QueryDef(
      (s, d) => langidScored(tbl(s, d, "documents"))
        .withColumn("match", col("predicted") === col("lang"))
        .orderBy("doc_id"),
      Some {
        val (scores, pred) = langidPredSql
        s"""SELECT doc_id, lang, $pred AS predicted, ($pred = lang) AS match
           |FROM (SELECT doc_id, lang, text,
           |    $scores
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin
      }),

    // Language-ID EVALUATION: the confusion matrix of the marker-word
    // detector against the corpus's ground-truth lang column — the
    // measurement that turns "we have a langid heuristic" into "we know
    // its per-language recall" (the sim_ann_recall / dedup_eval_recall
    // discipline applied to the third classifier in the library). Exact
    // integer cell counts and per-actual-language recall ppm. Scale
    // shape: one per-row scoring pass → a ≤|langs|²-row hash agg → a
    // broadcast per-language total join; no window.
    "text_langid_eval" -> QueryDef(
      (s, d) => {
        val conf = langidScored(tbl(s, d, "documents"))
          .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
          .localCheckpoint() // ≤25 rows; totals must not re-scan the corpus
        val tot = conf.groupBy("lang").agg(sum(col("n")).as("n_lang"))
        conf.join(broadcast(tot), Seq("lang"))
          .withColumn("cell_ppm", expr("n * 1000000 div n_lang"))
          .select(col("lang"), col("predicted"), col("n"), col("n_lang"),
            col("cell_ppm"))
          .orderBy("lang", "predicted")
      },
      Some {
        val (scores, pred) = langidPredSql
        s"""WITH p AS (SELECT lang, $pred AS predicted
           |  FROM (SELECT lang, text, $scores FROM documents)),
           |conf AS (SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
           |  FROM p GROUP BY 1, 2),
           |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM conf GROUP BY 1)
           |SELECT lang, predicted, n, n_lang,
           |  CAST(divide(n * 1000000, n_lang) AS BIGINT) AS cell_ppm
           |FROM conf JOIN tot USING (lang)
           |ORDER BY lang, predicted""".stripMargin
      },
      doc = "langid confusion matrix vs the ground-truth lang column: " +
        "exact cell counts + per-language recall ppm — the eval half " +
        "of text_langid"),

    // Quality scoring: length / stopword-ratio / type-token-ratio composite
    // (north-star "quality scoring"). Pure int/int arithmetic.
    "text_quality" -> QueryDef(
      (s, d) => {
        val t = split(col("text"), " ")
        tbl(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            length(col("text")).cast("long").as("n_chars_c"),
            size(t).cast("long").as("n_tok"),
            size(array_distinct(t)).cast("long").as("n_dist"),
            size(filter(t, x => x.isin(Stopwords: _*))).cast("long").as("n_stop"))
          // NO rounding anywhere: the composite can tie exactly at the
          // 4th decimal (e.g. 0.60225 for /32 fractions) where Spark
          // (HALF_UP) and DuckDB disagree; the unrounded doubles are
          // bit-identical because both engines run the same IEEE ops on
          // the same integers in the same order.
          .withColumn("ttr", col("n_dist").cast("double") / col("n_tok"))
          .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tok"))
          .withColumn("quality",
            col("ttr") * 0.3
              + (lit(1.0) - col("stop_ratio")) * 0.4
              + least(col("n_tok").cast("double") / 100.0, lit(1.0)) * 0.3)
          .select(col("doc_id"), col("lang"), col("n_chars_c"), col("n_tok"),
            col("n_dist"), col("n_stop"), col("ttr"), col("stop_ratio"), col("quality"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, lang, n_chars_c, n_tok, n_dist, n_stop,
              |  ttr, stop_ratio,
              |  ttr*0.3 + (1.0 - stop_ratio)*0.4 + least(CAST(n_tok AS DOUBLE)/100.0, 1.0)*0.3 AS quality
              |FROM (SELECT doc_id, lang, n_chars_c, n_tok, n_dist, n_stop,
              |    CAST(n_dist AS DOUBLE)/n_tok AS ttr, CAST(n_stop AS DOUBLE)/n_tok AS stop_ratio
              |  FROM (SELECT doc_id, lang,
              |      length(text) AS n_chars_c,
              |      len(string_split(text, ' ')) AS n_tok,
              |      len(list_distinct(string_split(text, ' '))) AS n_dist,
              |      CAST(len(list_filter(string_split(text, ' '), x -> list_contains($stopSql, x))) AS BIGINT) AS n_stop
              |    FROM documents))
              |ORDER BY doc_id""".stripMargin)),

    // Token counting per source: whitespace tokens + BPE-ish regex tokens
    // + exact vocabulary size (explode → distinct, the scalable shape).
    "text_token_count" -> QueryDef(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val perDoc = docs.groupBy("source").agg(
          sum(size(split(col("text"), " ")).cast("long")).as("ws_tokens"),
          sum(size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).cast("long")).as("re_tokens"),
          count(lit(1)).as("n_docs"))
        val vocab = docs.select(col("source"), explode(split(col("text"), " ")).as("token"))
          .groupBy("source").agg(countDistinct(col("token")).as("vocab"))
        perDoc.join(vocab, Seq("source")).orderBy("source")
      },
      Some("""SELECT a.source, ws_tokens, re_tokens, n_docs, vocab
             |FROM (SELECT source,
             |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
             |    CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+', 0))) AS BIGINT) AS re_tokens,
             |    CAST(COUNT(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY source) a
             |JOIN (SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT) AS vocab
             |      FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
             |      GROUP BY source) b ON a.source = b.source
             |ORDER BY a.source""".stripMargin)),

    // Benchmark-contamination detection: corpus docs sharing any token-
    // 3-gram shingle with an evaluation set (GPT-3-style n-gram overlap
    // decontamination; the stand-in eval set is the deterministic
    // doc_id % 97 == 0 slice). Scale shape: an equi-join on the 8-byte
    // shingle hash; a real eval set is fixed-size, so AQE broadcasts it
    // at runtime — no explicit broadcast() hint here, because THIS
    // stand-in grows with the corpus (1/97 of it) and a forced broadcast
    // would collect it to the driver at 100 TB. The per-doc
    // distinct-count shuffles only docs with at least one hit.
    "text_contamination" -> QueryDef(
      (s, d) => {
        import Dedup.{shingles3, tokHashesSeq}
        val docs = tbl(s, d, "documents")
          .select(col("doc_id"), shingles3(tokHashesSeq(col("text"))).as("sh"))
        val bench = docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("bench_id"), explode(col("sh")).as("g"))
        val corpus = docs.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), explode(col("sh")).as("g"))
        corpus.join(bench, Seq("g"))
          .groupBy("doc_id")
          .agg(countDistinct(col("g")).as("n_shared"), min(col("bench_id")).as("first_bench"))
          .orderBy("doc_id")
      },
      Some(decontamOracleSql)),

    // Bloom-prefiltered decontamination — the broadcast-filter variant of
    // text_contamination for when the eval set is BOUNDED (the real-world
    // case: benchmarks are fixed-size; the corpus is not). The filter is
    // built once from the eval shingles (two bounded Spark jobs, guarded
    // by spark.graft.bloom.maxEvalShingles), rides into every task as one
    // array literal, and the corpus side is tested by pure column
    // arithmetic inside codegen — NO shuffle of corpus shingles that
    // merely miss. Survivors (true hits + bloom false positives) then take
    // the exact equi-join against the broadcast eval relation, so the
    // OUTPUT is exactly text_contamination's — false positives cost only
    // wasted join probes, never wrong rows. Contrast with
    // text_contamination, which must shuffle because ITS stand-in eval set
    // grows with the corpus; here the guard makes boundedness a contract.
    "text_decontam_bloom" -> QueryDef(
      (s, d) => {
        import Dedup.{shingles3, tokHashesSeq}
        import graft.functions.Bloom
        val docs = tbl(s, d, "documents")
          .select(col("doc_id"), shingles3(tokHashesSeq(col("text"))).as("sh"))
        val bench = docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("bench_id"), explode(col("sh")).as("g"))
        val cap = Qh.MaxEvalShingles.get(s)
        // Build-once memo (process lifetime, keyed by corpus dir): an eval
        // set is a fixed artifact, so its filter is too — rebuilding the
        // bitset (two bounded Spark jobs) per invocation would dominate
        // the query at small scale and is pure waste at any scale. The
        // same cluster-once shape as Dedup.clustersTable.
        val bloom = bloomMemo.computeIfAbsent((d, cap),
          _ => Bloom.build(bench, "g", maxKeys = cap, boundKey = Qh.MaxEvalShingles.key))
        val corpus = docs.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), explode(col("sh")).as("g"))
          .filter(Bloom.mightContain(col("g"), bloom))
        corpus.join(broadcast(bench), Seq("g"))
          .groupBy("doc_id")
          .agg(countDistinct(col("g")).as("n_shared"), min(col("bench_id")).as("first_bench"))
          .orderBy("doc_id")
      },
      Some(decontamOracleSql),
      doc = "bloom prefilter (bounded eval set, broadcast bitset literal) + " +
        "exact verify join; output is identical to text_contamination"),

    // Repetition-based quality rules (Gopher-style): per doc, the
    // duplicate-token fraction, the top-token dominance fraction, and the
    // duplicate-3-gram fraction, all in exact integer permille; keep=1
    // when the doc clears the dup/dominance thresholds. Scale shape: one
    // explode + two hash aggregations for token stats (the top-token
    // count cannot be had from array ops alone), pure array arithmetic
    // for the 3-gram side, one doc-granular equi-join to combine.
    "text_repetition" -> QueryDef(
      (s, d) => {
        import Dedup.{shingles3Raw, tokHashesSeq}
        val docs = tbl(s, d, "documents")
        // Gopher triple via the map-only TokenProfile codegen expression
        // (r13 optimization round; see corpus_manifest) - replaces the
        // double (doc, token) shuffle with one generated-code pass
        val tokStats = docs
          .select(col("doc_id"),
            graft.plans.TokenProfile.column(split(col("text"), " ")).as("__tp"))
          .select(col("doc_id"), col("__tp").getItem(0).as("n_tok"),
            col("__tp").getItem(1).as("n_dist"), col("__tp").getItem(2).as("top_cnt"))
        val shStats = docs.select(col("doc_id"),
          shingles3Raw(tokHashesSeq(col("text"))).as("sh"))
          .select(col("doc_id"), size(col("sh")).cast("long").as("n_3g"),
            size(array_distinct(col("sh"))).cast("long").as("nd_3g"))
        tokStats.join(shStats, Seq("doc_id"))
          .withColumn("dup_tok_milli", expr("(n_tok - n_dist) * 1000 div n_tok"))
          .withColumn("top_milli", expr("top_cnt * 1000 div n_tok"))
          .withColumn("dup_3g_milli", expr("(n_3g - nd_3g) * 1000 div greatest(n_3g, 1)"))
          .withColumn("keep",
            when(col("dup_tok_milli") <= GopherDupMilli && col("top_milli") <= GopherTopMilli, 1L)
              .otherwise(0L))
          .select(col("doc_id"), col("n_tok"), col("n_dist"), col("top_cnt"),
            col("dup_tok_milli"), col("top_milli"), col("dup_3g_milli"), col("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH c AS (SELECT doc_id, token, count(*) cnt
              |          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
              |          GROUP BY doc_id, token),
              |t AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) n_tok, CAST(count(*) AS BIGINT) n_dist,
              |        CAST(max(cnt) AS BIGINT) top_cnt FROM c GROUP BY doc_id),
              |g AS (SELECT doc_id, CAST(len(sh) AS BIGINT) n_3g,
              |        CAST(len(list_distinct(sh)) AS BIGINT) nd_3g
              |      FROM (SELECT doc_id, ${Dedup.shingles3RawSql(Dedup.tokHashesSeqSql("text"))} AS sh
              |            FROM documents))
              |SELECT doc_id, n_tok, n_dist, top_cnt,
              |  divide((n_tok - n_dist) * 1000, n_tok) AS dup_tok_milli,
              |  divide(top_cnt * 1000, n_tok) AS top_milli,
              |  divide((n_3g - nd_3g) * 1000, greatest(n_3g, 1)) AS dup_3g_milli,
              |  CAST(CASE WHEN divide((n_tok - n_dist) * 1000, n_tok) <= $GopherDupMilli
              |         AND divide(top_cnt * 1000, n_tok) <= $GopherTopMilli THEN 1 ELSE 0 END AS BIGINT) AS keep
              |FROM t JOIN g USING (doc_id) ORDER BY doc_id""".stripMargin),
      doc = "Gopher-style repetition filters in exact integer permille"),

    // Boilerplate detection (C4-style): a 3-gram shingle occurring in >= 3
    // distinct docs is "boilerplate"; per doc, report the fraction of its
    // distinct shingles that are boilerplate. Scale shape: explode the
    // per-doc DISTINCT shingles (so count(*) per shingle == doc frequency
    // with no countDistinct shuffle), filter to common shingles, equi-join
    // back on the 8-byte hash — the same df-join shape as contamination,
    // never an all-pairs compare. Docs with zero boilerplate survive via
    // the left join.
    "text_boilerplate" -> QueryDef(
      (s, d) => {
        import Dedup.{shingles3, tokHashesSeq}
        // ONE shingle pass over the corpus: per-doc totals ride along the
        // exploded relation as a conditional count; the doc_id-only base
        // (a cheap column-pruned scan) restores docs whose shingle set is
        // empty (<3 tokens) via the left join.
        val exploded = tbl(s, d, "documents")
          .select(col("doc_id"), explode(shingles3(tokHashesSeq(col("text")))).as("g"))
        val common = exploded.groupBy("g").agg(count(lit(1)).as("ndocs"))
          .filter(col("ndocs") >= 3)
          .select(col("g"), lit(1L).as("is_common"))
        val perDoc = exploded.join(common, Seq("g"), "left_outer")
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_sh"),
            count(col("is_common")).as("n_boiler"))
        tbl(s, d, "documents").select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left_outer")
          .withColumn("n_sh", coalesce(col("n_sh"), lit(0L)))
          .withColumn("n_boiler", coalesce(col("n_boiler"), lit(0L)))
          .withColumn("boiler_milli", expr("n_boiler * 1000 div greatest(n_sh, 1)"))
          .select(col("doc_id"), col("n_sh"), col("n_boiler"), col("boiler_milli"))
          .orderBy("doc_id")
      },
      Some(s"""WITH e AS (SELECT doc_id, unnest(${Dedup.shingles3Sql(Dedup.tokHashesSeqSql("text"))}) AS g FROM documents),
              |common AS (SELECT g FROM e GROUP BY g HAVING count(*) >= 3),
              |b AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) n_sh,
              |        CAST(count(common.g) AS BIGINT) n_boiler
              |      FROM e LEFT JOIN common USING (g) GROUP BY e.doc_id)
              |SELECT d.doc_id, COALESCE(b.n_sh, 0) AS n_sh,
              |  COALESCE(b.n_boiler, 0) AS n_boiler,
              |  divide(COALESCE(b.n_boiler, 0) * 1000, greatest(COALESCE(b.n_sh, 0), 1)) AS boiler_milli
              |FROM (SELECT doc_id FROM documents) d LEFT JOIN b ON d.doc_id = b.doc_id
              |ORDER BY d.doc_id""".stripMargin),
      doc = "C4-style common-ngram boilerplate fraction via shingle-df equi-join"),

    // Mixture planning: given target domain weights (permille of the
    // training budget) and the measured per-source token supply, compute
    // each source's sampling rate (capped at 1000 = take everything) and
    // the tokens it will actually contribute. This is the calculation a
    // curation pipeline runs BEFORE sample_stratified materializes the
    // mixture. One aggregation + a broadcast scalar; exact integer
    // arithmetic throughout.
    "sample_mixture_plan" -> QueryDef(
      (s, d) => {
        // weights: src0/src1 are boosted domains, everything else shares
        // the remainder evenly via the default 50‰.
        val weight = when(col("source") === "src0", 300L)
          .when(col("source") === "src1", 200L).otherwise(50L)
        val supply = tbl(s, d, "documents")
          .groupBy("source")
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("supply_tok"))
        val total = supply.agg(sum(col("supply_tok")).as("budget_tok"))
        supply.crossJoin(broadcast(total))
          .withColumn("weight_milli", weight)
          .withColumn("target_tok", expr("weight_milli * budget_tok div 1000"))
          .withColumn("rate_milli",
            least(lit(1000L), expr("target_tok * 1000 div supply_tok")))
          .withColumn("planned_tok", expr("supply_tok * rate_milli div 1000"))
          .select(col("source"), col("supply_tok"), col("weight_milli"),
            col("target_tok"), col("rate_milli"), col("planned_tok"))
          .orderBy("source")
      },
      Some("""WITH supply AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) supply_tok
             |                FROM documents GROUP BY source),
             |total AS (SELECT CAST(sum(supply_tok) AS BIGINT) budget_tok FROM supply)
             |SELECT source, supply_tok,
             |  CAST(CASE WHEN source = 'src0' THEN 300 WHEN source = 'src1' THEN 200 ELSE 50 END AS BIGINT) AS weight_milli,
             |  divide(weight_milli * budget_tok, 1000) AS target_tok,
             |  least(1000, divide(divide(weight_milli * budget_tok, 1000) * 1000, supply_tok)) AS rate_milli,
             |  divide(supply_tok * least(1000, divide(divide(weight_milli * budget_tok, 1000) * 1000, supply_tok)), 1000) AS planned_tok
             |FROM supply CROSS JOIN total ORDER BY source""".stripMargin),
      doc = "domain-mixture sampling plan: weights x supply -> per-source rates, exact integers"),

    // Temperature-scaled mixture sampling (the multilingual-LM standard:
    // sample source i with p_i ∝ supply_i^T, T<1 — up-weights
    // low-resource domains so the head domain can't drown them; T=0.5
    // here, i.e. p ∝ √supply). sample_mixture_plan takes EXPLICIT
    // weights; this derives them from the supply itself. Exactness
    // discipline: √supply is quantized to integer micro-units
    // (floor(sqrt·1e6) — sqrt/multiply/floor are bit-identical IEEE ops
    // on the same integer-valued double in both engines), every later
    // step is 64-bit integer arithmetic, and the target split avoids
    // budget×ppm overflow by splitting budget at 1e6 (exact for budgets
    // to ~9e18 tokens; w_micro·1e6 caps per-source supply at ~8.5e13
    // tokens ≈ 340 TB of text — documented headroom, not a live bound).
    // epochs_milli > 1000 on a source means temperature UP-samples it
    // past one epoch — the signal mixture planners act on. Scale: one
    // per-source rollup + a broadcast 1-row total; output rows = #sources.
    "sample_temperature" -> QueryDef(
      (s, d) => {
        val supply = tbl(s, d, "documents")
          .groupBy("source")
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("supply_tok"))
          .withColumn("w_micro",
            floor(sqrt(col("supply_tok").cast("double")) * lit(1000000d)).cast("long"))
        val total = supply.agg(sum(col("w_micro")).as("w_total"),
          sum(col("supply_tok")).as("budget_tok"))
        supply.crossJoin(broadcast(total))
          .withColumn("weight_ppm", expr("w_micro * 1000000 div w_total"))
          .withColumn("target_tok", expr(
            "(budget_tok div 1000000) * weight_ppm + ((budget_tok % 1000000) * weight_ppm) div 1000000"))
          .withColumn("epochs_milli", expr("target_tok * 1000 div supply_tok"))
          .select(col("source"), col("supply_tok"), col("weight_ppm"),
            col("target_tok"), col("epochs_milli"))
          .orderBy("source")
      },
      Some("""WITH supply AS (
             |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS supply_tok,
             |    CAST(floor(sqrt(CAST(sum(len(string_split(text, ' '))) AS DOUBLE)) * 1000000) AS BIGINT) AS w_micro
             |  FROM documents GROUP BY source),
             |total AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w_total,
             |                 CAST(sum(supply_tok) AS BIGINT) AS budget_tok FROM supply),
             |w AS (SELECT source, supply_tok, budget_tok,
             |        divide(w_micro * 1000000, w_total) AS weight_ppm
             |      FROM supply CROSS JOIN total),
             |t AS (SELECT source, supply_tok, weight_ppm,
             |        divide(budget_tok, 1000000) * weight_ppm
             |          + divide((budget_tok % 1000000) * weight_ppm, 1000000) AS target_tok
             |      FROM w)
             |SELECT source, supply_tok, weight_ppm, target_tok,
             |  divide(target_tok * 1000, supply_tok) AS epochs_milli
             |FROM t ORDER BY source""".stripMargin),
      doc = "temperature mixture (T=0.5): p ∝ √supply in exact integer " +
        "micro-units; up-samples low-resource sources past one epoch"),

    // Feature-hashed linear quality classifier — the fastText-style scale
    // shape: token → hash bucket → fixed weight, document score = Σ w.
    // The POINT is what is absent: no vocabulary join, no dictionary
    // broadcast, no training-state shuffle — feature hashing turns
    // classifier inference into pure per-row arithmetic + one
    // map-side-combinable groupBy(doc_id), so scoring 100 TB costs one
    // pass. Weights here are a deterministic stand-in derived from the
    // token hash itself ((h mod 2001) − 1000 ∈ [−1000,1000]); a trained
    // model would swap in a broadcast weight array indexed by the same
    // bucket id (the functions.Bloom bitset-literal plumbing) without
    // touching the plan shape. No signed division anywhere (Spark `div`
    // and DuckDB `divide` disagree on negative truncation): the exact
    // integer numerator + n_tok ship instead, and the keep verdict is a
    // sign test (the text_dsir_weight precedent).
    "text_clf_linear" -> QueryDef(
      (s, d) => {
        // map-only per-doc scoring via the native ClfProfile expression
        // (r13 optimization round; see text_clf_eval): the exploded
        // groupBy(doc) exchange is gone - scan to verdict with no shuffle
        tbl(s, d, "documents")
          .select(col("doc_id"),
            graft.plans.ClfProfile.column(split(col("text"), " ")).as("__cp"))
          .select(col("doc_id"), col("__cp").getItem(0).as("n_tok"),
            col("__cp").getItem(2).as("score_num"),
            col("__cp").getItem(3).as("n_pos"), col("__cp").getItem(4).as("n_neg"))
          .withColumn("keep", col("score_num") > 0L)
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
              |w AS (SELECT doc_id, (${strHashSql("tok")} % 2001) - 1000 AS w FROM t)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
              |  CAST(sum(w) AS BIGINT) AS score_num,
              |  CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
              |  CAST(sum(CASE WHEN w < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
              |  sum(w) > 0 AS keep
              |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      doc = "feature-hashed linear classifier: no vocab join, one " +
        "map-side-combinable pass; hash-derived stand-in weights",
      ),

    // Encoding-QA pass — the mojibake/corruption triage every crawl
    // corpus runs before training: count U+FFFD replacement characters
    // (the scar a broken charset decode leaves), control characters, and
    // non-ASCII mass per document, and flag the clean ones. The testdata
    // is clean ASCII, so each doc gets a DETERMINISTIC planted blemish
    // by doc_id class (none / accented letter / U+FFFD / BEL control) —
    // the text_pii_redact precedent: both engines build the identical
    // string, so the detector's verdicts are oracle-exact. Counting
    // discipline: specific-character counts are length-diffs of
    // literal replace() (NO regex, no backslash-class portability trap);
    // the non-ASCII mass uses the one backslash-free class '[ -~]'
    // (printable ASCII by code range) under the 'g'-flagged
    // regexp_replace shadow. The planted chars ride as RAW UTF-8
    // literals, not chr(): Spark's chr() is mod-256 ASCII, so
    // chr(65533) silently yields 'ý' there but U+FFFD in DuckDB — the
    // literal spelling is the only engine-invariant one (chr(7) is safe,
    // both agree below 256). Pure per-row arithmetic — embarrassingly
    // parallel, no shuffle before the final ORDER BY.
    "text_encoding_qa" -> QueryDef(
      (s, d) => {
        val blemish = when(pmod(col("doc_id"), lit(4L)) === 1L, lit(" café"))
          .when(pmod(col("doc_id"), lit(4L)) === 2L, lit(" x�"))
          .when(pmod(col("doc_id"), lit(4L)) === 3L, expr("chr(7)"))
          .otherwise(lit(""))
        tbl(s, d, "documents")
          .select(col("doc_id"), concat(col("text"), blemish).as("txt"))
          .select(col("doc_id"),
            length(col("txt")).cast("long").as("n_chars"),
            (length(col("txt")) - length(expr("replace(txt, '�', '')")))
              .cast("long").as("n_repl"),
            (length(col("txt")) - length(expr("replace(txt, chr(7), '')")))
              .cast("long").as("n_ctrl"),
            length(regexp_replace(col("txt"), "[ -~]", "")).cast("long").as("n_nonascii"))
          .withColumn("clean", col("n_repl") === 0L && col("n_ctrl") === 0L)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |    text || CASE WHEN doc_id % 4 = 1 THEN ' café'
             |                 WHEN doc_id % 4 = 2 THEN ' x�'
             |                 WHEN doc_id % 4 = 3 THEN chr(7)
             |                 ELSE '' END AS txt
             |  FROM documents)
             |SELECT doc_id, CAST(len(txt) AS BIGINT) AS n_chars,
             |  CAST(len(txt) - len(replace(txt, '�', '')) AS BIGINT) AS n_repl,
             |  CAST(len(txt) - len(replace(txt, chr(7), '')) AS BIGINT) AS n_ctrl,
             |  CAST(len(regexp_replace(txt, '[ -~]', '', 'g')) AS BIGINT) AS n_nonascii,
             |  len(txt) - len(replace(txt, '�', '')) = 0
             |    AND len(txt) - len(replace(txt, chr(7), '')) = 0 AS clean
             |FROM t ORDER BY doc_id""".stripMargin),
      doc = "encoding QA: U+FFFD / control-char / non-ASCII counts per " +
        "doc, planted blemishes detected oracle-exactly; zero-shuffle",
      ),

    // Quality-signal rank fusion (Borda count) — how real curation
    // pipelines COMBINE weak signals: three independent integer signals
    // (lexical diversity = TTR permille, length score, and the
    // feature-hashed classifier's score_num) each rank the corpus, and
    // the fused rank-sum picks the top slice. Rank fusion beats score
    // averaging because the signals live on incomparable scales — ranks
    // are the only scale-free common currency, and integer rank sums
    // are engine-exact where normalized float scores are not. Ties
    // break by doc_id, so every rank order is total and unique — which
    // makes rank() ≡ row_number(), so each global rank is computed
    // DISTRIBUTED via [[graft.Qh.globalRowNumber]] (two-pass bucketed
    // prefix-rank; descending = negated score). s_len is the tie-skew
    // case the helper's composite (score, doc_id) bucketing absorbs:
    // every doc ≥100 tokens shares one capped value, so value-only
    // buckets would put most of a 100 TB corpus in one task. The scored
    // table is localCheckpoint'd once so the three rankings' bounds/
    // count passes don't re-run the classifier explode.
    "text_quality_ensemble" -> QueryDef(
      (s, d) => {
        // all three signals from ONE map-only ClfProfile pass (r13
        // optimization round): the former shape scanned documents twice
        // and shuffled the exploded token stream for s_clf, then paid a
        // doc_id join to stitch the halves - scan to scores, no exchange
        val scored = tbl(s, d, "documents")
          .select(col("doc_id"),
            graft.plans.ClfProfile.column(split(col("text"), " ")).as("__cp"))
          .select(col("doc_id"), col("__cp").getItem(0).as("n_tok"),
            col("__cp").getItem(1).as("n_dist"), col("__cp").getItem(2).as("s_clf"))
          .withColumn("s_ttr", expr("n_dist * 1000 div n_tok"))
          .withColumn("s_len", least(col("n_tok"), lit(100L)))
          .localCheckpoint()
        def rk(df: org.apache.spark.sql.DataFrame, c: String, out: String) =
          globalRowNumber(df, -col(c), col("doc_id"), out).df
        rk(rk(rk(scored, "s_ttr", "r_ttr"), "s_len", "r_len"), "s_clf", "r_clf")
          .withColumn("borda", col("r_ttr") + col("r_len") + col("r_clf"))
          .select(col("doc_id"), col("s_ttr"), col("s_len"), col("s_clf"),
            col("r_ttr"), col("r_len"), col("r_clf"), col("borda"))
          .orderBy(col("borda"), col("doc_id")).limit(100)
      },
      Some(s"""WITH per_row AS (
              |  SELECT doc_id,
              |    divide(len(list_distinct(string_split(text, ' '))) * 1000,
              |           len(string_split(text, ' '))) AS s_ttr,
              |    least(CAST(len(string_split(text, ' ')) AS BIGINT), 100) AS s_len
              |  FROM documents),
              |clf AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS s_clf FROM (
              |          SELECT doc_id, (${strHashSql("tok")} % 2001) - 1000 AS w
              |          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents))
              |        GROUP BY doc_id),
              |j AS (SELECT per_row.doc_id AS doc_id, s_ttr, s_len, s_clf
              |      FROM per_row JOIN clf ON per_row.doc_id = clf.doc_id),
              |r AS (SELECT doc_id, s_ttr, s_len, s_clf,
              |        CAST(rank() OVER (ORDER BY s_ttr DESC, doc_id) AS BIGINT) AS r_ttr,
              |        CAST(rank() OVER (ORDER BY s_len DESC, doc_id) AS BIGINT) AS r_len,
              |        CAST(rank() OVER (ORDER BY s_clf DESC, doc_id) AS BIGINT) AS r_clf
              |      FROM j)
              |SELECT doc_id, s_ttr, s_len, s_clf, r_ttr, r_len, r_clf,
              |  r_ttr + r_len + r_clf AS borda
              |FROM r ORDER BY borda, doc_id LIMIT 100""".stripMargin),
      doc = "Borda rank fusion of three incomparable quality signals " +
        "(TTR, length, hashed classifier) — exact integer rank sums"),

    // Gain/lift chart for the quality classifier: rank the corpus by
    // score, cut into exact deciles, and report per-decile positive
    // rate, cumulative capture, and lift vs the base rate — the
    // curation planner's table ("keeping the top 3 deciles captures
    // 54% of the good docs at 1.8x base purity"), complementing
    // text_clf_eval's threshold sweep (operating points by SCORE) with
    // operating points by BUDGET. The global decile is the DISTRIBUTED
    // two-pass prefix-rank ([[graft.Qh.globalRowNumber]], descending =
    // negated score, doc_id tiebreak) + exact [[graft.Qh.ntileFromRn]]
    // — never an unpartitioned corpus window; the only global window
    // left is the 10-row cumulative over the decile AGGREGATE (fixed
    // size at any corpus scale, q17/q70 class). lift_milli =
    // n_pos·n_all·1000 div (n_docs·pos_all) is exact to ~9e18 — fine
    // to ~3e9-doc corpora; past that promote to DECIMAL(38,0) (q96
    // discipline). Same score/pseudo-label derivation as text_clf_eval.
    "text_clf_gains" -> QueryDef(
      (s, d) => {
        // map-only per-doc scoring via the native ClfProfile expression
        // (r13 optimization round; see text_clf_eval)
        val scored = tbl(s, d, "documents")
          .select(col("doc_id"),
            graft.plans.ClfProfile.column(split(col("text"), " ")).as("__cp"))
          .select(col("doc_id"), col("__cp").getItem(2).as("score"),
            col("__cp").getItem(0).as("n_tok"), col("__cp").getItem(1).as("n_dist"))
          .withColumn("label",
            expr("n_dist * 1000 div n_tok >= 500 AND n_tok >= 20"))
          .select(col("doc_id"), col("score"), col("label"))
          .localCheckpoint() // the ranking's bounds pass must not re-score
        val r = globalRowNumber(scored, -col("score"), col("doc_id"), "rn")
        val dec = r.df.withColumn("decile", ntileFromRn("rn", r.n, 10L))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"))
          .localCheckpoint() // ≤10 rows; totals + cumsum read it
        val tot = dec.agg(sum(col("n_docs")).as("n_all"),
          sum(col("n_pos")).as("pos_all"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        dec.withColumn("cum_pos", sum(col("n_pos")).over(w))
          .crossJoin(broadcast(tot))
          .withColumn("pos_rate_ppm", expr("n_pos * 1000000 div n_docs"))
          .withColumn("capture_cum_ppm", expr("cum_pos * 1000000 div pos_all"))
          .withColumn("lift_milli",
            expr("n_pos * n_all * 1000 div (n_docs * pos_all)"))
          .select(col("decile"), col("n_docs"), col("n_pos"),
            col("pos_rate_ppm"), col("cum_pos"), col("capture_cum_ppm"),
            col("lift_milli"))
          .orderBy("decile")
      },
      Some(s"""WITH scored AS (
              |  SELECT doc_id, CAST(sum(w) AS BIGINT) AS score,
              |    CAST(count(*) AS BIGINT) AS n_tok,
              |    CAST(count(DISTINCT tok) AS BIGINT) AS n_dist
              |  FROM (SELECT doc_id, tok, (${strHashSql("tok")} % 2001) - 1000 AS w
              |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents))
              |  GROUP BY doc_id),
              |lab AS (SELECT doc_id, score,
              |    divide(n_dist * 1000, n_tok) >= 500 AND n_tok >= 20 AS label
              |  FROM scored),
              |dec AS (SELECT CAST(ntile(10) OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS decile,
              |    label FROM lab),
              |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
              |  FROM dec GROUP BY 1),
              |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
              |    CAST(sum(n_pos) AS BIGINT) AS pos_all FROM g),
              |c AS (SELECT decile, n_docs, n_pos,
              |    CAST(sum(n_pos) OVER (ORDER BY decile
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
              |  FROM g)
              |SELECT decile, n_docs, n_pos,
              |  CAST(divide(n_pos * 1000000, n_docs) AS BIGINT) AS pos_rate_ppm,
              |  cum_pos,
              |  CAST(divide(cum_pos * 1000000, pos_all) AS BIGINT) AS capture_cum_ppm,
              |  CAST(divide(n_pos * n_all * 1000, n_docs * pos_all) AS BIGINT) AS lift_milli
              |FROM c CROSS JOIN tot ORDER BY decile""".stripMargin),
      doc = "classifier gain/lift chart: exact score deciles via the " +
        "distributed prefix-rank, per-decile positive rate, cumulative " +
        "capture, and lift vs base in exact integers"),

    // Pairwise vocabulary overlap between sources: Jaccard AND overlap
    // coefficient (|∩| / min) on the distinct-token vocabularies — the
    // corpus-similarity matrix a mixture plan (sample_mixture_plan)
    // consults before weighting sources ("are these two crawls the
    // same corpus twice?"), and the source-level sibling of q94's
    // user-set overlap. The overlap coefficient matters because
    // vocabulary sizes differ wildly: a tiny source fully contained in
    // a big one reads Jaccard ≈ 0 but overlap = 1 — containment is the
    // duplication signal. Scale shape: one explode pass into the
    // deduped (source, token) relation (bounded by |sources|·vocab,
    // NOT corpus tokens), a token-keyed self-join emitting ≤|sources|²
    // pairs per shared token, a bounded pair agg, tiny-sizes grid with
    // explicit zero rows (the q94 omission guard).
    "text_source_overlap" -> QueryDef(
      (s, d) => {
        val vocab = tbl(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("token"))
          .distinct()
          .localCheckpoint() // sizes + both self-join sides
        Qh.pairOverlap(vocab, "token", "source", "source")
          .withColumn("jaccard_ppm",
            expr("n_both * 1000000 div (n_a + n_b - n_both)"))
          .withColumn("overlap_ppm",
            expr("n_both * 1000000 div least(n_a, n_b)"))
          .select(col("source_a"), col("source_b"), col("n_a").as("v_a"),
            col("n_b").as("v_b"), col("n_both").as("v_both"),
            col("jaccard_ppm"), col("overlap_ppm"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH pres AS (SELECT DISTINCT source, token
             |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)),
             |${Qh.pairOverlapSql("token", "source", "source")}
             |SELECT source_a, source_b, n_a AS v_a, n_b AS v_b, n_both AS v_both,
             |  CAST(divide(n_both * 1000000, n_a + n_b - n_both) AS BIGINT) AS jaccard_ppm,
             |  CAST(divide(n_both * 1000000, least(n_a, n_b)) AS BIGINT) AS overlap_ppm
             |FROM grid ORDER BY source_a, source_b""".stripMargin),
      doc = "pairwise source-vocabulary overlap: exact Jaccard and " +
        "overlap coefficient in ppm over deduped token vocabularies — " +
        "the corpus-similarity matrix behind mixture planning"),

    // Classifier evaluation sweep — the metrology step between training
    // a quality classifier and trusting it on 100 TB: sweep the decision
    // threshold and report the exact confusion matrix at each cut
    // against a deterministic pseudo-label (the lexical-diversity +
    // length rule — in production, a held-out human-labeled set). One
    // pass computes each doc's (score, label); a small threshold-array
    // explode (9 rows/doc) and one groupBy produce every operating
    // point — precision/recall arrive as exact integer numerators
    // (tp/fp/fn), never pre-divided floats, so downstream can plot the
    // full PR curve without re-touching the corpus.
    "text_clf_eval" -> QueryDef(
      (s, d) => {
        // score AND pseudo-label derive from ONE map-only pass: the
        // native [[graft.plans.ClfProfile]] expression folds n_tok,
        // n_dist, and the hashed-lexicon score per row (r13 optimization
        // round). The former countDistinct(tok) over the exploded stream
        // paid Spark's two-level distinct rewrite - its first exchange
        // carried the full (doc, token) grid, which at 100 TB dwarfs the
        // corpus (the TokenProfile argument) - and per-doc scoring now
        // needs NO exchange at all. ClfProfileSpec pins the triple
        // against the exploded aggregation form.
        val scored = tbl(s, d, "documents")
          .select(col("doc_id"),
            graft.plans.ClfProfile.column(split(col("text"), " ")).as("__cp"))
          .select(col("doc_id"), col("__cp").getItem(2).as("score"),
            col("__cp").getItem(0).as("n_tok"), col("__cp").getItem(1).as("n_dist"))
          .withColumn("label",
            expr("n_dist * 1000 div n_tok >= 500 AND n_tok >= 20"))
          .select(col("doc_id"), col("score"), col("label"))
        val thresholds = (-2000L to 2000L by 500L).toSeq
        scored
          .select(col("score"), col("label"),
            explode(typedLit(thresholds)).as("threshold"))
          .withColumn("pred", col("score") > col("threshold"))
          .groupBy("threshold")
          .agg(sum(when(col("pred") && col("label"), 1L).otherwise(0L)).as("tp"),
            sum(when(col("pred") && !col("label"), 1L).otherwise(0L)).as("fp"),
            sum(when(!col("pred") && col("label"), 1L).otherwise(0L)).as("fn"),
            sum(when(!col("pred") && !col("label"), 1L).otherwise(0L)).as("tn"))
          .orderBy("threshold")
      },
      Some(s"""WITH scored AS (
              |  SELECT s.doc_id AS doc_id, s.score AS score,
              |    divide(len(list_distinct(string_split(d.text, ' '))) * 1000,
              |           len(string_split(d.text, ' '))) >= 500
              |      AND len(string_split(d.text, ' ')) >= 20 AS label
              |  FROM (SELECT doc_id, CAST(sum(w) AS BIGINT) AS score FROM (
              |          SELECT doc_id, (${strHashSql("tok")} % 2001) - 1000 AS w
              |          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents))
              |        GROUP BY doc_id) s
              |    JOIN documents d ON s.doc_id = d.doc_id),
              |sweep AS (SELECT score, label,
              |            unnest(list_value(-2000, -1500, -1000, -500, 0, 500, 1000, 1500, 2000)) AS threshold
              |          FROM scored)
              |SELECT CAST(threshold AS BIGINT) AS threshold,
              |  CAST(sum(CASE WHEN score > threshold AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              |  CAST(sum(CASE WHEN score > threshold AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              |  CAST(sum(CASE WHEN score <= threshold AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              |  CAST(sum(CASE WHEN score <= threshold AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
              |FROM sweep GROUP BY threshold ORDER BY threshold""".stripMargin),
      doc = "threshold sweep of the hashed classifier vs a deterministic " +
        "pseudo-label: exact confusion counts at 9 operating points",
      ),

    // Calibration / reliability table for the same classifier: docs
    // binned into fixed 500-wide score bands (clamped to ±2000), each
    // band reporting its observed positive rate — the reliability curve
    // that decides whether a quality classifier's scores can be used as
    // KEEP PROBABILITIES (as in quality-weighted sampling) or only as a
    // ranking (text_clf_eval's view). Banding arithmetic stays in
    // non-negative integers: band = (clamp(score)+2000) div 500, so the
    // floor-vs-truncate negative-division trap never arises; the
    // possibly-negative per-band score mass ships as an exact SUM (no
    // division). Scale shape: one token pass (map-side combine), one
    // ≤9-row hash agg — no window, no join.
    "text_clf_calibration" -> QueryDef(
      (s, d) => {
        // map-only per-doc scoring via the native ClfProfile expression
        // (r13 optimization round; see text_clf_eval)
        val scored = tbl(s, d, "documents")
          .select(col("doc_id"),
            graft.plans.ClfProfile.column(split(col("text"), " ")).as("__cp"))
          .select(col("doc_id"), col("__cp").getItem(2).as("score"),
            col("__cp").getItem(0).as("n_tok"), col("__cp").getItem(1).as("n_dist"))
          .withColumn("label",
            expr("n_dist * 1000 div n_tok >= 500 AND n_tok >= 20"))
        scored
          .withColumn("band",
            expr("(greatest(-2000L, least(2000L, score)) + 2000) div 500"))
          .groupBy("band")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("label"), 1L).otherwise(0L)).as("n_true"),
            sum(col("score")).as("sum_score"))
          .withColumn("band_lo", col("band") * 500L - 2000L)
          .withColumn("true_rate_ppm", expr("n_true * 1000000 div n_docs"))
          .select(col("band"), col("band_lo"), col("n_docs"), col("n_true"),
            col("true_rate_ppm"), col("sum_score"))
          .orderBy("band")
      },
      Some(s"""WITH scored AS (
              |  SELECT s.doc_id AS doc_id, s.score AS score,
              |    divide(len(list_distinct(string_split(d.text, ' '))) * 1000,
              |           len(string_split(d.text, ' '))) >= 500
              |      AND len(string_split(d.text, ' ')) >= 20 AS label
              |  FROM (SELECT doc_id, CAST(sum(w) AS BIGINT) AS score FROM (
              |          SELECT doc_id, (${strHashSql("tok")} % 2001) - 1000 AS w
              |          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents))
              |        GROUP BY doc_id) s
              |  JOIN documents d ON d.doc_id = s.doc_id),
              |b AS (SELECT CAST(divide(greatest(-2000, least(2000, score)) + 2000, 500) AS BIGINT) AS band,
              |    score, label FROM scored)
              |SELECT band, CAST(band * 500 - 2000 AS BIGINT) AS band_lo,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
              |  CAST(divide(sum(CASE WHEN label THEN 1 ELSE 0 END) * 1000000,
              |    count(*)) AS BIGINT) AS true_rate_ppm,
              |  CAST(sum(score) AS BIGINT) AS sum_score
              |FROM b GROUP BY band ORDER BY band""".stripMargin),
      doc = "reliability/calibration table of the hashed classifier: " +
        "fixed 500-wide score bands (negative-safe banding), exact " +
        "observed positive rate per band",
      ),

    // Poisson bootstrap — error bars on corpus statistics in ONE pass,
    // no resampling RNG, no data movement: each of 32 replicates
    // reweights every document by a deterministic hash-derived count
    // whose distribution approximates Poisson(1) (the standard
    // distributed bootstrap — independent per-element weights need no
    // global sample coordination, so it parallelizes trivially where
    // classic with-replacement resampling cannot). Replicate weights
    // come from PolyHash(doc_id:rep) mod 1000 cut at the Poisson(1) CDF
    // (368/736/920/981 ‰ → w ∈ 0..4); the statistic here is corpus mean
    // tokens/doc, shipped as exact integer numerator (weighted token
    // sum) and denominator (weighted doc count) per replicate — the
    // spread across the 32 rows IS the confidence interval. One explode
    // (32 rows/doc) + one 32-group map-side-combinable aggregate.
    "sample_bootstrap" -> QueryDef(
      (s, d) => {
        val h = pmod(strHash(concat(col("doc_id").cast("string"), lit(":"),
          col("rep").cast("string"))), lit(1000L))
        val w = when(h < 368L, 0L).when(h < 736L, 1L)
          .when(h < 920L, 2L).when(h < 981L, 3L).otherwise(4L)
        tbl(s, d, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"),
            explode(sequence(lit(0L), lit(31L))).as("rep"))
          .select(col("rep"), col("n_tok"), w.as("w"))
          .groupBy("rep")
          .agg(sum(col("w")).as("n_eff"),
            sum(col("w") * col("n_tok")).as("tok_eff"))
          .orderBy("rep")
      },
      Some(s"""WITH r AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              |    unnest(range(0, 32)) AS rep
              |  FROM documents),
              |w AS (SELECT rep, n_tok,
              |        CASE WHEN h < 368 THEN 0 WHEN h < 736 THEN 1
              |             WHEN h < 920 THEN 2 WHEN h < 981 THEN 3 ELSE 4 END AS w
              |      FROM (SELECT rep, n_tok,
              |              ${strHashSql("CAST(doc_id AS STRING) || ':' || CAST(rep AS STRING)")} % 1000 AS h
              |            FROM r))
              |SELECT CAST(rep AS BIGINT) AS rep, CAST(sum(w) AS BIGINT) AS n_eff,
              |  CAST(sum(w * n_tok) AS BIGINT) AS tok_eff
              |FROM w GROUP BY rep ORDER BY rep""".stripMargin),
      doc = "deterministic Poisson(1) bootstrap: 32 hash-reweighted " +
        "replicates of mean tokens/doc in one pass — distributed error bars",
      ),

    // Trending terms: top-5 tokens per source by document frequency with
    // per-source share — the monitoring view a crawl operator reads
    // (sudden boilerplate/spam injections surface as a term spiking in
    // one source). Counting is DOCUMENT frequency (distinct doc per
    // token), so a single spammy doc can't fake a trend; the per-source
    // rank filter engages WindowGroupLimit (each map task keeps ≤5 rows
    // per source BEFORE the window shuffle — the q64/sample_weighted
    // plan shape), so per-group top-k never moves the full term table.
    // Stopwords (the library-wide list) are excluded or the top-5 is all
    // 'the'/'of'. Two shuffles: (source, token) distinct-doc rollup,
    // then the rank window on source.
    "text_trending_terms" -> QueryDef(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val nDocs = docs.groupBy("source").agg(countDistinct("doc_id").as("n_docs"))
        val df = docs
          .select(col("source"), col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("token"))
          .filter(!col("token").isin(Stopwords: _*) && length(col("token")) > 2)
          .groupBy("source", "token")
          .agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("source")
          .orderBy(col("df").desc, col("token"))
        df.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .join(broadcast(nDocs), Seq("source"))
          .select(col("source"), col("rnk"), col("token"), col("df"),
            expr("df * 1000 div n_docs").as("df_milli"))
          .orderBy("source", "rnk")
      },
      Some(s"""WITH nd AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              |           FROM documents GROUP BY source),
              |tf AS (SELECT source, token, CAST(count(*) AS BIGINT) AS df
              |       FROM (SELECT source, doc_id,
              |               unnest(list_distinct(string_split(text, ' '))) AS token
              |             FROM documents)
              |       WHERE token NOT IN (${Stopwords.map(sw => s"'$sw'").mkString(", ")})
              |         AND len(token) > 2
              |       GROUP BY source, token),
              |r AS (SELECT source, token, df,
              |        CAST(row_number() OVER (PARTITION BY source
              |          ORDER BY df DESC, token) AS BIGINT) AS rnk
              |      FROM tf)
              |SELECT r.source AS source, rnk, token, df,
              |  divide(df * 1000, n_docs) AS df_milli
              |FROM r JOIN nd ON r.source = nd.source
              |WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin),
      doc = "top-5 document-frequency terms per source with permille " +
        "share; WindowGroupLimit keeps k rows per group pre-shuffle"),

    // PII detection + redaction: regex-scrub emails and phone-shaped
    // strings before a corpus ships to training. The testdata carries no
    // PII, so each doc gets a DETERMINISTIC synthetic contact line
    // derived from doc_id (both engines build the identical string);
    // the query counts matches and emits the PolyHash of the redacted
    // text so the oracle proves the full rewritten string, not just the
    // counts. Per-row regex work only — embarrassingly parallel.
    "text_pii_redact" -> QueryDef(
      (s, d) => {
        val emailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
        val phoneRe = "555-[0-9]{4}"
        tbl(s, d, "documents").select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or call 555-"),
            lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")).as("txt"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("txt"), lit(emailRe), lit(0))).cast("long").as("n_email"),
            size(regexp_extract_all(col("txt"), lit(phoneRe), lit(0))).cast("long").as("n_phone"),
            strHash(regexp_replace(regexp_replace(col("txt"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("red_hash"))
          .orderBy("doc_id")
      },
      Some(s"""WITH p AS (SELECT doc_id,
              |    text || ' contact user' || CAST(doc_id AS STRING) || '@example.com or call 555-' ||
              |    lpad(CAST(doc_id % 10000 AS STRING), 4, '0') AS txt
              |  FROM documents),
              |r AS (SELECT doc_id,
              |    CAST(len(regexp_extract_all(txt, '[a-z0-9]+@[a-z]+\\.[a-z]+', 0)) AS BIGINT) AS n_email,
              |    CAST(len(regexp_extract_all(txt, '555-[0-9]{4}', 0)) AS BIGINT) AS n_phone,
              |    regexp_replace(regexp_replace(txt, '[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
              |      '555-[0-9]{4}', '<PHONE>', 'g') AS red
              |  FROM p)
              |SELECT doc_id, n_email, n_phone, ${strHashSql("red")} AS red_hash
              |FROM r ORDER BY doc_id""".stripMargin),
      doc = "regex PII scrub with deterministic synthetic PII; redacted text proven by hash"),

    // Lexicon sentiment scoring (reference T15, the VADER heritage of
    // models/analyzed_models.go:8) as pure column arithmetic — whole-stage
    // codegen, no UDF. No rounding anywhere: score = (p-n)/ntok and
    // confidence = |p-n|/(p+n) are single IEEE divisions of small exact
    // integers, bit-identical across engines.
    "text_sentiment" -> QueryDef(
      (s, d) => {
        import graft.enrich.Enrich.LexiconScorer
        val sc = LexiconScorer.scoreCol(col("text"))
        tbl(s, d, "documents")
          .select(col("doc_id"), sc.as("score"),
            LexiconScorer.labelCol(sc).as("label"),
            LexiconScorer.confidenceCol(col("text")).as("confidence"))
          .orderBy("doc_id")
      },
      Some {
        import graft.enrich.Enrich.LexiconScorer
        s"""SELECT doc_id, ${LexiconScorer.scoreSql} AS score,
           |  ${LexiconScorer.labelSql(LexiconScorer.scoreSql)} AS label,
           |  ${LexiconScorer.confidenceSql} AS confidence
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // Deterministic stratified sampling: per-source rates via the content
    // fingerprint mod 100 — reproducible across runs/engines (no RNG),
    // embarrassingly parallel (a pure filter, no shuffle before the
    // ORDER BY), and stable under corpus growth: a doc's in/out decision
    // never changes when other docs arrive. The curation op that carves
    // training mixtures out of a 100 TB corpus.
    "sample_stratified" -> QueryDef(
      (s, d) => {
        val rate = when(col("source").isin("src0", "src1"), 50).otherwise(10)
        tbl(s, d, "documents")
          .withColumn("h", pmod(strHash(col("text")), lit(100L)))
          .filter(col("h") < rate)
          .select(col("doc_id"), col("source"), col("h"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, source, h FROM (
              |  SELECT doc_id, source, ${strHashSql("text")} % 100 AS h FROM documents)
              |WHERE h < CASE WHEN source IN ('src0', 'src1') THEN 50 ELSE 10 END
              |ORDER BY doc_id""".stripMargin)),

    // Weighted sampling without replacement — priority sampling (Duffield,
    // Lund, Thorup, JACM 2007): per item draw u_i ∈ (0,1), keep the k
    // SMALLEST priorities q_i = u_i / w_i per group; inclusion probability
    // scales with weight w_i (here n_chars — length-proportional document
    // sampling, the mixture-building workhorse). u_i is the deterministic
    // polynomial hash of the doc id mapped into (0,1] — both engines
    // compute the identical two-division double, so the sample is
    // reproducible and oracle-exact. Scale shape: one narrow map to score,
    // one row_number window per group — no global sort, no collect; at
    // 100 TB the window's per-group top-k is the standard TopK pushdown
    // shape (rank filter directly over the window).
    "sample_weighted" -> QueryDef(
      (s, d) => {
        val u = (strHash(concat(col("doc_id").cast("string"), lit(":ws"))) + 1L)
          .cast("double") / lit(HashP.toDouble)
        val w = Window.partitionBy("source").orderBy(col("priority"), col("doc_id"))
        tbl(s, d, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"),
            (u / col("n_chars").cast("double")).as("priority"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 10)
          .orderBy("source", "rn")
      },
      Some(s"""SELECT source, doc_id, n_chars, priority, rn FROM (
              |  SELECT source, doc_id, n_chars, priority,
              |    CAST(row_number() OVER (PARTITION BY source ORDER BY priority, doc_id) AS BIGINT) AS rn
              |  FROM (SELECT source, doc_id, n_chars,
              |          CAST(${strHashSql(s"concat(CAST(doc_id AS STRING), ':ws')")} + 1 AS DOUBLE)
              |            / ${HashP}.0 / CAST(n_chars AS DOUBLE) AS priority
              |        FROM documents))
              |WHERE rn <= 10 ORDER BY source, rn""".stripMargin),
      doc = "priority sampling (u/w smallest-k per group): length-weighted " +
        "reproducible document sampling without replacement"),

    // Greedy-cumsum shard packing: assign docs to ~2000-token shards per
    // (source) stream, in doc_id order — the sequence-packing step that
    // turns a curated corpus into training shards. Shard id =
    // (cumsum-1) div budget with NO reset at boundaries: a doc straddling
    // a boundary lands in the shard where it ENDS, so a shard holds at
    // most budget + (max doc ntok - 1) tokens — approximate packing, the
    // price of expressing it as one running-SUM window (parallel across
    // sources; within a source the cumsum is the inherent sequential
    // dependency) instead of a per-source sequential scan. Exact-cap
    // packing would need stateful iteration (mapPartitions per source).
    "shard_pack" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tbl(s, d, "documents")
          .select(col("doc_id"), col("source"), size(split(col("text"), " ")).cast("long").as("ntok"))
          .withColumn("cum", sum(col("ntok")).over(w))
          .withColumn("shard", ((col("cum") - 1L) / 2000L).cast("long"))
          .select(col("source"), col("shard"), col("doc_id"), col("ntok"))
          .orderBy("source", "doc_id")
      },
      Some("""SELECT source, CAST(divide(cum - 1, 2000) AS BIGINT) AS shard, doc_id, ntok FROM (
             |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
             |    SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
             |      OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM documents)
             |ORDER BY source, doc_id""".stripMargin)),

    // Exact-cap shard packing — the stateful counterpart of shard_pack:
    // a doc that would overflow the current shard STARTS a new one, so a
    // shard never exceeds the 2000-token budget unless a single document
    // alone does. The within-source scan is inherently sequential, so
    // this is the one legitimate mapPartitions operator in the library
    // (SURVEY §7.3 "last resort"): repartition by source co-locates each
    // source's stream, sortWithinPartitions makes it contiguous and
    // ordered, and the per-partition pass keeps O(1) state. Parallelism
    // = number of sources — the same bound the recursive dependency
    // imposes on any engine. Oracle: recursive CTE with identical reset
    // semantics.
    "shard_pack_exact" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val docs = tbl(s, d, "documents")
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("ntok"))
          .as[(String, Long, Long)]
        val packed = docs
          .repartition(col("source"))
          .sortWithinPartitions("source", "doc_id")
          .mapPartitions { rows =>
            var curSource: String = null
            var cum = 0L
            var shard = 0L
            rows.map { case (src, id, ntok) =>
              if (src != curSource) { curSource = src; cum = 0L; shard = 0L }
              if (cum > 0 && cum + ntok > 2000L) { shard += 1; cum = 0L }
              cum += ntok
              (src, shard, id, ntok)
            }
          }
        packed.toDF("source", "shard", "doc_id", "ntok").orderBy("source", "doc_id")
      },
      Some("""WITH RECURSIVE t AS (
             |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
             |  FROM documents),
             |r AS (
             |  SELECT source, doc_id, ntok, rn, ntok AS cum, CAST(0 AS BIGINT) AS shard
             |  FROM t WHERE rn = 1
             |  UNION ALL
             |  SELECT t.source, t.doc_id, t.ntok, t.rn,
             |    CASE WHEN r.cum + t.ntok > 2000 THEN t.ntok ELSE r.cum + t.ntok END,
             |    CASE WHEN r.cum + t.ntok > 2000 THEN r.shard + 1 ELSE r.shard END
             |  FROM r JOIN t ON t.source = r.source AND t.rn = r.rn + 1)
             |SELECT source, shard, doc_id, ntok FROM r
             |ORDER BY source, doc_id""".stripMargin)),

    // Continuous sequence packing — the pretraining step AFTER document
    // curation: concatenate each source's documents into one token
    // stream (doc order = doc_id) and cut it into fixed SeqLen-token
    // context windows, documents crossing window boundaries (the
    // GPT/T5-style packed-example layout: no padding except the final
    // window per source; Brown et al. 2020 §2.1, Raffel et al. 2020
    // "packing"). One row per (document × window it overlaps):
    // start_tok = first token of the doc's contribution (offset within
    // the doc), n_tok = tokens contributed, offset_in_seq = where they
    // land inside the window. Unlike shard_pack (greedy whole-doc
    // binning with a sequential recurrence), the window geometry is
    // pure prefix arithmetic — a DISTRIBUTED prefix sum (see
    // [[packSequences]]) plus a bounded explode over the
    // ntok/SeqLen + 1 windows a doc spans.
    //
    // Oracle dialect notes: the window SUM is cast to BIGINT at the
    // source (DuckDB widens sum(BIGINT) to HUGEINT, whose pandas-path
    // rendering is float — a value-FORMAT divergence invisible to an
    // exact row compare); the window-index bounds use floor(x / L.0),
    // an IEEE double op both engines evaluate identically at any
    // version, instead of divide() whose integer/float contract has
    // shifted across DuckDB releases.
    "pack_sequences" -> QueryDef(
      (s, d) => packSequences(tbl(s, d, "documents")).orderBy("source", "seq_id", "doc_id"),
      Some(s"""WITH t AS (
              |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
              |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
              |      OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS endg
              |  FROM documents),
              |b AS (
              |  SELECT source, doc_id, ntok, endg, endg - ntok AS startg,
              |    CAST(floor((endg - ntok) / $SeqLen.0) AS BIGINT) AS s0,
              |    CAST(floor((endg - 1) / $SeqLen.0) AS BIGINT) AS s1
              |  FROM t),
              |e AS (
              |  SELECT source, doc_id, endg, startg,
              |    unnest(generate_series(s0, s1)) AS seq_id
              |  FROM b)
              |SELECT source, seq_id, doc_id,
              |  CAST(greatest(startg, seq_id * $SeqLen) - startg AS BIGINT) AS start_tok,
              |  CAST(least(endg, (seq_id + 1) * $SeqLen) - greatest(startg, seq_id * $SeqLen) AS BIGINT) AS n_tok,
              |  CAST(greatest(startg, seq_id * $SeqLen) - seq_id * $SeqLen AS BIGINT) AS offset_in_seq
              |FROM e ORDER BY source, seq_id, doc_id""".stripMargin),
      doc = s"continuous $SeqLen-token context-window packing per source; " +
        "docs cross window boundaries, exact integer geometry"),

    // Deterministic corpus shuffle — training-order randomization as a
    // REPRODUCIBLE property of the data, not of a reader: each doc's
    // shuffle key is a seeded polynomial hash, shards are key-mod (one
    // shard per training reader), and rank orders within a shard. At
    // scale the permutation is ORDER BY key (a range-partitioned sort);
    // ranks are per-shard windows so no single-partition global sort
    // bottleneck exists. Re-running with the same seed reproduces the
    // exact epoch order.
    "sample_shuffle" -> QueryDef(
      (s, d) => shuffleShards(tbl(s, d, "documents")).orderBy("shard", "rk"),
      Some(s"""WITH k AS (SELECT doc_id,
              |    ${Qh.strHashSql(s"concat(CAST(doc_id AS STRING), ':42')")} AS skey
              |  FROM documents)
              |SELECT skey % $ShuffleShards AS shard,
              |  CAST(row_number() OVER (PARTITION BY skey % $ShuffleShards ORDER BY skey, doc_id) AS BIGINT) AS rk,
              |  doc_id, skey
              |FROM k ORDER BY shard, rk""".stripMargin),
      doc = s"seeded deterministic shuffle into $ShuffleShards reader shards; " +
        "reproducible epoch order via polynomial hash key"),

    // Sentiment aggregation per (source, label) — the serving-layer query
    // the reference stores results for (GET /tweets + Grafana dashboards).
    "text_sentiment_agg" -> QueryDef(
      (s, d) => {
        import graft.enrich.Enrich.LexiconScorer
        val sc = LexiconScorer.scoreCol(col("text"))
        tbl(s, d, "documents")
          .select(col("source"), LexiconScorer.labelCol(sc).as("label"), sc.as("score"))
          .groupBy("source", "label")
          .agg(count(lit(1)).as("n"),
            // floor (not cast) before summing: cast-to-int rounding differs
            // between engines; floor of identical doubles is identical
            (sum(floor(col("score") * 10000).cast("long")).cast("double") / 10000.0).as("sum_score"))
          .orderBy("source", "label")
      },
      Some {
        import graft.enrich.Enrich.LexiconScorer
        val sc = LexiconScorer.scoreSql
        s"""SELECT source, ${LexiconScorer.labelSql("score")} AS label,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(floor(score * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_score
           |FROM (SELECT source, $sc AS score FROM documents)
           |GROUP BY 1, 2 ORDER BY source, label""".stripMargin
      }),

    // Document fingerprinting: deterministic polynomial rolling hash over
    // the full text (north-star "document fingerprinting"). fp/fp_norm
    // are the ~20-bit HashP fold (token-hash convention); fp_wide is the
    // 58-bit WinHashP digest of the normalized text — the ACTUAL
    // exact-dedup key (dedup_exact / corpus_manifest / streaming curate
    // share it; 20 bits false-merges distinct texts at corpus scale).
    "text_fingerprint" -> QueryDef(
      (s, d) => tbl(s, d, "documents")
        .select(col("doc_id"), strHash(col("text")).as("fp"),
          strHash(lower(trim(col("text")))).as("fp_norm"),
          strHashWide(lower(trim(col("text")))).as("fp_wide"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${strHashSql("text")} AS fp,
              |  ${strHashSql("lower(trim(text))")} AS fp_norm,
              |  ${strHashWideSql("lower(trim(text))")} AS fp_wide
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Context-window chunking: split every document into overlapping
    // token windows (64 tokens, stride 48 → 16-token overlap) — the
    // packing primitive that turns curated documents into training /
    // retrieval units. Pure per-row array arithmetic (sequence of starts →
    // posexplode → slice), embarrassingly parallel, no shuffle before the
    // final ORDER BY; the chunk text is proven by PolyHash, not shipped.
    // A doc shorter than one window yields exactly one (partial) chunk.
    "text_chunk" -> QueryDef(
      (s, d) => {
        val (win, stride) = (ChunkTokens, ChunkStride)
        tbl(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .select(col("doc_id"), col("tk"),
            posexplode(sequence(lit(0), size(col("tk")) - 1, lit(stride))))
          .select(col("doc_id"),
            col("pos").cast("long").as("chunk_id"),
            col("col").cast("long").as("start_tok"),
            least(lit(win), size(col("tk")) - col("col")).cast("long").as("n_tok"),
            strHash(array_join(slice(col("tk"), col("col") + 1, lit(win)), " ")).as("chunk_hash"))
          .orderBy("doc_id", "chunk_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
              |s AS (SELECT doc_id, tk, unnest(range(0, len(tk), $ChunkStride)) AS start FROM t)
              |SELECT doc_id, CAST(divide(start, $ChunkStride) AS BIGINT) AS chunk_id,
              |  CAST(start AS BIGINT) AS start_tok,
              |  CAST(least($ChunkTokens, len(tk) - start) AS BIGINT) AS n_tok,
              |  ${strHashSql(s"array_to_string(list_slice(tk, start + 1, start + $ChunkTokens), ' ')")} AS chunk_hash
              |FROM s ORDER BY doc_id, chunk_id""".stripMargin),
      doc = s"overlapping $ChunkTokens-token windows, stride $ChunkStride; chunk text proven by hash"),

    // Unigram-LM quality scoring: score each document by how "typical" its
    // tokens are under the corpus's own unigram distribution — the log-free
    // integer-exact stand-in for KenLM-style perplexity filtering (the
    // text_tfidf precedent: no transcendental whose last ulp could differ
    // between engines). freq_ppb = corpus-count(token) × 1e9 div
    // corpus-total; per doc we emit the mean and min token frequency and
    // the rare-token count (corpus count ≤ 2 — hapax/dis legomena, the
    // OCR-garbage signal). Scale shape: one explode, a vocab-sized count
    // relation equi-joined back on the token (AQE broadcasts a real
    // vocabulary), one per-doc aggregation. NB freq_ppb needs cnt ≤ ~9e9;
    // at a larger corpus scale the same query ships with ppm scaling.
    "text_unigram_lm" -> QueryDef(
      (s, d) => {
        val toksRel = tbl(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        val cnts = toksRel.groupBy("token").agg(count(lit(1)).as("cnt"))
        val total = cnts.agg(sum(col("cnt")).as("total_tok"))
        toksRel.join(cnts, Seq("token")).crossJoin(broadcast(total))
          .withColumn("freq_ppb", expr("cnt * 1000000000 div total_tok"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            expr("sum(freq_ppb) div count(1)").as("mean_freq_ppb"),
            min(col("freq_ppb")).as("min_freq_ppb"),
            sum(when(col("cnt") <= 2, 1L).otherwise(0L)).as("rare_tok"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             |cnts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY token),
             |total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tok FROM cnts)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             |  CAST(divide(sum(divide(cnt * 1000000000, total_tok)), count(*)) AS BIGINT) AS mean_freq_ppb,
             |  CAST(min(divide(cnt * 1000000000, total_tok)) AS BIGINT) AS min_freq_ppb,
             |  CAST(sum(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS rare_tok
             |FROM toks JOIN cnts USING (token) CROSS JOIN total
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      doc = "log-free unigram-LM scoring: exact integer token-frequency stats per doc"),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020, public arXiv
    // 1911.00359): the corpus splits into head/middle/tail TERCILES of
    // the LM quality score — the standard "keep head, sample middle,
    // drop tail" curation gate. The score is text_unigram_lm's log-free
    // mean_freq_ppb (lower = more surprising = tail), and the tercile
    // assignment is EXACT ntile(3) over the total order
    // (mean_freq_ppb, doc_id) — computed with the distributed two-pass
    // bucketed prefix-rank ([[graft.Qh.globalRowNumber]]), NOT an
    // unpartitioned window: at 100 TB the ranking of every document in
    // the corpus is exactly the plan shape the r7 audit flagged, and
    // this query exists to show the curation gate in its scale-safe
    // form. Output is the 3-row bucket summary (sizes + score ranges +
    // token mass), the table a mixture planner consumes.
    "text_ccnet_buckets" -> QueryDef(
      (s, d) => {
        // Per-doc unigram score — the text_unigram_lm pipeline (same
        // pre-agg discipline; see that entry for the scale notes).
        val toksRel = tbl(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        val cnts = toksRel.groupBy("token").agg(count(lit(1)).as("cnt"))
        val total = cnts.agg(sum(col("cnt")).as("total_tok"))
        val scored = toksRel.join(cnts, Seq("token"))
          .crossJoin(broadcast(total))
          .withColumn("freq_ppb", expr("cnt * 1000000000 div total_tok"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            expr("sum(freq_ppb) div count(1)").as("mean_freq_ppb"))
          .localCheckpoint() // two-pass rank needs a deterministic input
        val ranked = globalRowNumber(scored, col("mean_freq_ppb"),
          col("doc_id"), "rn")
        ranked.df
          .withColumn("tercile", ntileFromRn("rn", ranked.n, 3L))
          .withColumn("bucket",
            when(col("tercile") === 1L, "tail")
              .when(col("tercile") === 2L, "middle").otherwise("head"))
          .groupBy("tercile", "bucket")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
            min(col("mean_freq_ppb")).as("lo_ppb"),
            max(col("mean_freq_ppb")).as("hi_ppb"))
          .orderBy("tercile")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             |cnts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY token),
             |total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tok FROM cnts),
             |scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             |    CAST(divide(sum(divide(cnt * 1000000000, total_tok)), count(*)) AS BIGINT) AS mean_freq_ppb
             |  FROM toks JOIN cnts USING (token) CROSS JOIN total
             |  GROUP BY doc_id),
             |ranked AS (SELECT n_tok, mean_freq_ppb,
             |    CAST(ntile(3) OVER (ORDER BY mean_freq_ppb, doc_id) AS BIGINT) AS tercile
             |  FROM scored)
             |SELECT tercile,
             |  CASE WHEN tercile = 1 THEN 'tail' WHEN tercile = 2 THEN 'middle'
             |       ELSE 'head' END AS bucket,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_tok) AS BIGINT) AS sum_tok,
             |  CAST(min(mean_freq_ppb) AS BIGINT) AS lo_ppb,
             |  CAST(max(mean_freq_ppb) AS BIGINT) AS hi_ppb
             |FROM ranked GROUP BY tercile ORDER BY tercile""".stripMargin),
      doc = "CCNet head/middle/tail terciles of the unigram-LM score via " +
        "the distributed two-pass prefix-rank; 3-row mixture-planner summary"),

    // Bigram-LM quality scoring — the conditional-probability upgrade of
    // text_unigram_lm, same log-free integer-exact discipline: for every
    // adjacent token pair (w1, w2), cond_ppb = corpus-count(w1,w2) × 1e9
    // div corpus-count(w1 as a bigram head). Low mean/min conditional
    // probability is the classic fluency signal (word salad scores low
    // even when every individual token is common — exactly what the
    // unigram score cannot see); hapax_bigram counts pairs unique to the
    // corpus (the OCR-join/garbage analog of unigram rare_tok). Docs
    // with < 2 tokens have no bigrams and drop out (oracle agrees).
    // Scale shape: one explode (≈ token count), immediately collapsed to
    // per-(doc_id,w1,w2) counts — the probe stream the vocab joins see is
    // distinct-bigrams-per-doc, NOT token occurrences, so a Zipf-head key
    // ("the","of") probes once per document instead of once per occurrence
    // and the explode is computed exactly once (localCheckpoint cuts the
    // 3-consumer recompute). Both count relations (bigram vocab + head
    // vocab) derive from the same pre-agg — AQE broadcasts real
    // vocabularies; nothing is all-pairs. Occurrence-weighted stats are
    // recovered exactly: Σ cond_ppb over occurrences = Σ k·cond_ppb over
    // distinct pairs (every occurrence of a pair shares one cond_ppb).
    // Same ppb overflow bound as text_unigram_lm: ship ppm scaling past
    // ~9e9 corpus bigrams.
    "text_bigram_lm" -> QueryDef(
      (s, d) => {
        val bg = tbl(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .where(size(col("tk")) >= 2)
          .select(col("doc_id"), col("tk"),
            explode(sequence(lit(1), size(col("tk")) - 1)).as("i"))
          .select(col("doc_id"),
            element_at(col("tk"), col("i")).as("w1"),
            element_at(col("tk"), col("i") + 1).as("w2"))
        val docPairs = bg.groupBy("doc_id", "w1", "w2")
          .agg(count(lit(1)).as("k")).localCheckpoint()
        val heads = docPairs.groupBy("w1").agg(sum(col("k")).as("cnt1"))
        val pairs = docPairs.groupBy("w1", "w2").agg(sum(col("k")).as("cnt2"))
        docPairs.join(pairs, Seq("w1", "w2")).join(heads, Seq("w1"))
          .withColumn("cond_ppb", expr("cnt2 * 1000000000 div cnt1"))
          .groupBy("doc_id")
          .agg(sum(col("k")).as("n_bigram"),
            expr("sum(cond_ppb * k) div sum(k)").as("mean_cond_ppb"),
            min(col("cond_ppb")).as("min_cond_ppb"),
            sum(when(col("cnt2") <= 1, col("k")).otherwise(0L)).as("hapax_bigram"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |bg AS (SELECT doc_id, list_extract(tk, i) AS w1, list_extract(tk, i + 1) AS w2
             |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
             |        FROM t WHERE len(tk) >= 2)),
             |heads AS (SELECT w1, CAST(count(*) AS BIGINT) AS cnt1 FROM bg GROUP BY w1),
             |pairs AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt2 FROM bg GROUP BY w1, w2)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigram,
             |  CAST(divide(sum(divide(cnt2 * 1000000000, cnt1)), count(*)) AS BIGINT) AS mean_cond_ppb,
             |  CAST(min(divide(cnt2 * 1000000000, cnt1)) AS BIGINT) AS min_cond_ppb,
             |  CAST(sum(CASE WHEN cnt2 <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_bigram
             |FROM bg JOIN pairs USING (w1, w2) JOIN heads USING (w1)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      doc = "log-free bigram-LM scoring: exact integer conditional-probability " +
        "stats per doc (fluency signal the unigram score cannot see)"),

    // Canonical text normalization — the first pass of every curation
    // pipeline (and the reason fp_norm exists in text_fingerprint):
    // lowercase → strip non-alphanumerics → collapse whitespace runs →
    // trim. Emits the normalized text's hash (the content key exact dedup
    // should group on), plus before/after char and token counts so the
    // aggressiveness of the scrub is observable. Pure per-row regex —
    // embarrassingly parallel, regex kept to a dialect-neutral class so
    // Java (Spark) and RE2 (DuckDB) agree byte-for-byte.
    "text_normalize" -> QueryDef(
      (s, d) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
        tbl(s, d, "documents")
          .select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars_raw"),
            length(norm).cast("long").as("n_chars_norm"),
            size(split(norm, " ")).cast("long").as("n_tok_norm"),
            strHash(norm).as("norm_hash"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |  CAST(len(text) AS BIGINT) AS n_chars_raw,
              |  CAST(len(norm) AS BIGINT) AS n_chars_norm,
              |  CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tok_norm,
              |  ${strHashSql("norm")} AS norm_hash
              |FROM (SELECT doc_id, text,
              |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
              |  FROM documents)
              |ORDER BY doc_id""".stripMargin),
      doc = "canonical lowercase/strip/collapse normalization; result proven by hash"),

    // DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling" — public arXiv
    // 2302.03169): score every document by how much more likely its tokens
    // are under a TARGET domain's unigram distribution than under the full
    // corpus's. Target here = lang='en' (the majority slice, standing in
    // for "high-quality domain"); the log-ratio Σ log p_t/p_c becomes the
    // repo's log-free integer analog Σ k·(ppb_target − ppb_corpus) — same
    // ordering signal, exactly reproducible (the text_unigram_lm
    // precedent). No final division: a signed integer division is the one
    // arithmetic op whose truncation direction differs between engines,
    // so we emit the exact numerator + n_tok and let consumers divide.
    // Scale shape: one explode collapsed immediately to per-(doc,token)
    // counts (the text_bigram_lm discipline — Zipf heads probe once per
    // doc); two vocab-sized count relations equi-joined back; totals are
    // two broadcast 1-row frames. Nothing is all-pairs; nothing collects.
    "text_dsir_weight" -> QueryDef(
      (s, d) => {
        val toks = tbl(s, d, "documents")
          .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
        val docTok = toks.groupBy("doc_id", "lang", "token")
          .agg(count(lit(1)).as("k")).localCheckpoint()
        val corpus = docTok.groupBy("token").agg(sum(col("k")).as("cnt_c"))
        val target = docTok.filter(col("lang") === "en")
          .groupBy("token").agg(sum(col("k")).as("cnt_t"))
        val totC = corpus.agg(sum(col("cnt_c")).as("total_c"))
        val totT = target.agg(sum(col("cnt_t")).as("total_t"))
        docTok.join(corpus, Seq("token")).join(target, Seq("token"), "left")
          .crossJoin(broadcast(totC)).crossJoin(broadcast(totT))
          .withColumn("ppb_t", expr("coalesce(cnt_t, 0) * 1000000000 div total_t"))
          .withColumn("ppb_c", expr("cnt_c * 1000000000 div total_c"))
          .groupBy("doc_id", "lang")
          .agg(sum(col("k")).as("n_tok"),
            sum(col("k") * (col("ppb_t") - col("ppb_c"))).as("dsir_sum_ppb"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
             |dt AS (SELECT doc_id, lang, token, CAST(count(*) AS BIGINT) AS k
             |       FROM toks GROUP BY doc_id, lang, token),
             |corpus AS (SELECT token, CAST(sum(k) AS BIGINT) AS cnt_c FROM dt GROUP BY token),
             |target AS (SELECT token, CAST(sum(k) AS BIGINT) AS cnt_t FROM dt WHERE lang = 'en' GROUP BY token),
             |tc AS (SELECT CAST(sum(cnt_c) AS BIGINT) AS total_c FROM corpus),
             |tt AS (SELECT CAST(sum(cnt_t) AS BIGINT) AS total_t FROM target)
             |SELECT doc_id, lang, CAST(sum(k) AS BIGINT) AS n_tok,
             |  CAST(sum(k * (divide(coalesce(cnt_t, 0) * 1000000000, total_t)
             |             - divide(cnt_c * 1000000000, total_c))) AS BIGINT) AS dsir_sum_ppb
             |FROM dt JOIN corpus USING (token) LEFT JOIN target USING (token)
             |CROSS JOIN tc CROSS JOIN tt
             |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin),
      doc = "DSIR-style importance weight: integer-exact Σ k·(target-ppb − corpus-ppb) " +
        "per doc vs the lang='en' target distribution"),

    // Inverted-index build — the retrieval-side core op (BM25/impact
    // indexes, contamination lookups, per-token routing): the full
    // posting relation is (token, doc_id, tf) — ONE groupBy of the token
    // explode, already corpus-partitioned by token at scale — and this
    // query emits the per-token index header: document frequency, total
    // term frequency, and the impact-ordered head posting (highest tf,
    // doc_id tie-break — the first entry a BM25 scorer would visit).
    // Scale shape: the head posting is a struct-max argmax — max over
    // (tf, −doc_id) is a deterministic total order (max_by would break
    // ties arbitrarily), computes map-side inside the same partial
    // aggregation as df/tf_total, and needs NO per-token sort or window:
    // two exchanges total ((token,doc) then token), both with partial
    // aggregation below them. Output is vocabulary-sized.
    "text_inverted_index" -> QueryDef(
      (s, d) => {
        val tf = tbl(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
        tf.groupBy("token")
          .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"),
            max(struct(col("tf"), (-col("doc_id")).as("nd"))).as("m"))
          .select(col("token"), col("df"), col("tf_total"),
            (-col("m.nd")).as("top_doc_id"), col("m.tf").as("top_tf"))
          .orderBy("token")
      },
      Some("""WITH tf AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
             |  GROUP BY token, doc_id),
             |r AS (SELECT token, doc_id, tf,
             |    row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS rn FROM tf)
             |SELECT token, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS tf_total,
             |  CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS top_doc_id,
             |  CAST(max(CASE WHEN rn = 1 THEN tf END) AS BIGINT) AS top_tf
             |FROM r GROUP BY token ORDER BY token""".stripMargin),
      doc = "inverted-index header per token: df, total tf, impact-ordered head posting"),

    // Zipf-law fit of the corpus frequency spectrum: a healthy natural-
    // language corpus has log(freq) ≈ a − s·log(rank) with s ≈ 1; a
    // template-farm or deduplicated-to-death corpus bends the curve
    // (Zipf 1949; the standard corpus-health diagnostic). The fit is an
    // EXACT-integer OLS over (x, y) = (⌊log2 rank⌋, ⌊log2 freq⌋) of the
    // top-256 tokens: ⌊log2 n⌋ = len(bin(n))−1 is a pure string-length
    // integer op, identical in both engines (no libm log anywhere), and
    // the slope's numerator/denominator are exact 64-bit sums — the
    // output is the NEGATED slope in milli (Zipf slope is negative;
    // keeping the division operands positive sidesteps the engines'
    // floor-vs-truncate disagreement on negative integer division).
    // Scale shape: token histogram (one shuffle, map-side combine) →
    // top-256 TakeOrdered (never a global sort) → 256-row window + one
    // 1-row aggregate. At any corpus size the post-histogram work is
    // fixed-256-row.
    "text_zipf_slope" -> QueryDef(
      (s, d) => {
        val freq = tbl(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
          .groupBy("token").agg(count(lit(1)).as("f"))
          .orderBy(col("f").desc, col("token").asc)
          .limit(256)
        val w = Window.orderBy(col("f").desc, col("token").asc)
        val xy = freq
          .withColumn("rn", row_number().over(w).cast("long"))
          .select((length(bin(col("rn"))) - 1).cast("long").as("x"),
            (length(bin(col("f"))) - 1).cast("long").as("y"))
        xy.agg(count(lit(1)).as("n_points"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .withColumn("neg_slope_milli",
            expr("(sx * sy - n_points * sxy) * 1000 div (n_points * sxx - sx * sx)"))
      },
      Some("""WITH freq AS (SELECT token, CAST(count(*) AS BIGINT) AS f
             |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |  WHERE token <> '' GROUP BY token
             |  ORDER BY f DESC, token LIMIT 256),
             |xy AS (SELECT CAST(len(bin(CAST(row_number() OVER (ORDER BY f DESC, token) AS BIGINT))) - 1 AS BIGINT) AS x,
             |    CAST(len(bin(f)) - 1 AS BIGINT) AS y
             |  FROM freq),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
             |  FROM xy)
             |SELECT n_points, sx, sy, sxy, sxx,
             |  CAST(divide((sx * sy - n_points * sxy) * 1000,
             |    n_points * sxx - sx * sx) AS BIGINT) AS neg_slope_milli
             |FROM a""".stripMargin),
      doc = "Zipf-law slope of the token frequency spectrum: exact-" +
        "integer OLS over floor-log2 rank/freq of the top-256 tokens " +
        "(len(bin(n))-1, no libm), negated-slope milli output"),

    // Flesch-style readability battery per source: words-per-sentence
    // and vowel-group-per-word ratios feed the classic reading-ease
    // formula FRE = 206.835 − 1.015·(W/S) − 84.6·(Syl/W), evaluated in
    // exact integer milli with truncating division (operands all
    // non-negative; the subtraction may go negative, which is portable —
    // only DIVISION disagrees across engines on negatives). Syllables
    // use the standard vowel-group proxy ([aeiouy]+ runs in lowercased
    // text) — deterministic and dictionary-free. Scale shape: pure
    // per-row regexp counting (codegen'd) into one hash aggregate per
    // source; no window, no join.
    "text_readability" -> QueryDef(
      (s, d) => {
        tbl(s, d, "documents")
          .select(col("source"),
            size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
              .cast("long").as("sents"),
            size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)))
              .cast("long").as("words"),
            size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
              .cast("long").as("syls"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            // per-doc clamps keep every divisor ≥ 1 (ANSI div-by-zero
            // throws in Spark, errors in DuckDB — clamp identically)
            sum(greatest(col("sents"), lit(1L))).as("n_sents"),
            sum(greatest(col("words"), lit(1L))).as("n_words"),
            sum(col("syls")).as("n_syls"))
          .withColumn("wps_milli", expr("n_words * 1000 div n_sents"))
          .withColumn("spw_milli", expr("n_syls * 1000 div n_words"))
          .withColumn("fre_milli",
            expr("206835 - (1015 * n_words div n_sents) - (84600 * n_syls div n_words)"))
          .select(col("source"), col("n_docs"), col("n_sents"), col("n_words"),
            col("n_syls"), col("wps_milli"), col("spw_milli"), col("fre_milli"))
          .orderBy("source")
      },
      Some("""WITH perdoc AS (SELECT source,
             |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT), 1) AS sents,
             |    greatest(CAST(len(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT), 1) AS words,
             |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT) AS syls
             |  FROM documents),
             |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(sents) AS BIGINT) AS n_sents,
             |    CAST(sum(words) AS BIGINT) AS n_words,
             |    CAST(sum(syls) AS BIGINT) AS n_syls
             |  FROM perdoc GROUP BY source)
             |SELECT source, n_docs, n_sents, n_words, n_syls,
             |  CAST(divide(n_words * 1000, n_sents) AS BIGINT) AS wps_milli,
             |  CAST(divide(n_syls * 1000, n_words) AS BIGINT) AS spw_milli,
             |  CAST(206835 - divide(1015 * n_words, n_sents)
             |    - divide(84600 * n_syls, n_words) AS BIGINT) AS fre_milli
             |FROM agg ORDER BY source""".stripMargin),
      doc = "Flesch reading-ease battery per source in exact integer " +
        "milli: regexp sentence/word/vowel-group counts, one hash agg, " +
        "no window"),

    // Collocation extraction by pointwise mutual information (Church &
    // Hanks 1990): bigrams whose joint count beats the independence
    // expectation c1·c2/N. Ranked by the EXACT-integer PMI ratio
    // c_ab·N·10⁶ / (c1·c2) — the monotone inside of the log, so no libm
    // anywhere and the ranking is identical to log-PMI's. A min-count
    // floor (≥5) drops the hapax noise PMI is notorious for. Scale
    // shape: one bigram pass (map-side combine) → two vocab-sized
    // marginal joins → TakeOrdered top-100 (never a global sort).
    // Exactness bound: c_ab·N·10⁶ needs < 2⁶³ — holds while N·c_ab <
    // 9.2e12; past that promote the expression to DECIMAL(38,0) (both
    // engines exact) or pre-scale N.
    "text_collocation_pmi" -> QueryDef(
      (s, d) => {
        val bg = tbl(s, d, "documents")
          .select(split(col("text"), " ").as("tk"))
          .where(size(col("tk")) >= 2)
          .select(col("tk"), explode(sequence(lit(1), size(col("tk")) - 1)).as("i"))
          .select(element_at(col("tk"), col("i")).as("w1"),
            element_at(col("tk"), col("i") + 1).as("w2"))
          .localCheckpoint() // three aggregations read it
        val pairs = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 5)
        val heads = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
        val tails = bg.groupBy("w2").agg(count(lit(1)).as("c2"))
        val total = bg.agg(count(lit(1)).as("n_total"))
        pairs.join(heads, Seq("w1")).join(tails, Seq("w2"))
          .crossJoin(broadcast(total))
          .withColumn("pmi_ratio_ppm",
            expr("c_ab * n_total * 1000000 div (c1 * c2)"))
          .select(col("w1"), col("w2"), col("c_ab"), col("c1"), col("c2"),
            col("pmi_ratio_ppm"))
          .orderBy(col("pmi_ratio_ppm").desc, col("w1").asc, col("w2").asc)
          .limit(100)
      },
      Some("""WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
             |bg AS (SELECT list_extract(tk, i) AS w1, list_extract(tk, i + 1) AS w2
             |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i
             |        FROM t WHERE len(tk) >= 2)),
             |pairs AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
             |  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
             |heads AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
             |tails AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1),
             |total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM bg)
             |SELECT w1, w2, c_ab, c1, c2,
             |  CAST(divide(c_ab * n_total * 1000000, c1 * c2) AS BIGINT) AS pmi_ratio_ppm
             |FROM pairs JOIN heads USING (w1) JOIN tails USING (w2) CROSS JOIN total
             |ORDER BY pmi_ratio_ppm DESC, w1, w2 LIMIT 100""".stripMargin),
      doc = "top-100 collocations by exact-integer PMI ratio " +
        "(c_ab*N*1e6 / c1*c2, the monotone inside of log-PMI), " +
        "min-count 5, TakeOrdered head"),

    // Sequence-length histogram in power-of-2 buckets — the planning
    // input for pack_sequences/text_chunk (what fraction of the corpus
    // needs splitting at a given context length, and how much padding a
    // naive batcher would waste). Bucket index ⌊log2 tokens⌋ =
    // len(bin(n))−1: a pure integer string-length op, identical in both
    // engines. Scale shape: one per-row pass → ≤~30-bucket hash agg →
    // 1-row totals broadcast back for exact ppm shares.
    "text_length_histogram" -> QueryDef(
      (s, d) => {
        val perDoc = tbl(s, d, "documents")
          .select(greatest(size(split(col("text"), " ")), lit(1))
            .cast("long").as("n_tok"))
        val hist = perDoc
          .groupBy((length(bin(col("n_tok"))) - 1).cast("long").as("lg2_bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
          .localCheckpoint() // ~30 rows; totals must not re-scan the corpus
        val tot = hist.agg(sum(col("n_docs")).as("d_all"),
          sum(col("total_tokens")).as("t_all"))
        hist.crossJoin(broadcast(tot))
          .withColumn("doc_share_ppm", expr("n_docs * 1000000 div d_all"))
          .withColumn("token_share_ppm", expr("total_tokens * 1000000 div t_all"))
          .select(col("lg2_bucket"), col("n_docs"), col("total_tokens"),
            col("doc_share_ppm"), col("token_share_ppm"))
          .orderBy("lg2_bucket")
      },
      Some("""WITH perdoc AS (SELECT greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1) AS n_tok
             |  FROM documents),
             |hist AS (SELECT CAST(len(bin(n_tok)) - 1 AS BIGINT) AS lg2_bucket,
             |    CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(n_tok) AS BIGINT) AS total_tokens
             |  FROM perdoc GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS d_all,
             |    CAST(sum(total_tokens) AS BIGINT) AS t_all FROM hist)
             |SELECT lg2_bucket, n_docs, total_tokens,
             |  CAST(divide(n_docs * 1000000, d_all) AS BIGINT) AS doc_share_ppm,
             |  CAST(divide(total_tokens * 1000000, t_all) AS BIGINT) AS token_share_ppm
             |FROM hist CROSS JOIN tot ORDER BY lg2_bucket""".stripMargin),
      doc = "power-of-2 sequence-length histogram with exact ppm doc/" +
        "token shares — the packing/chunking planner's input; " +
        "len(bin(n))-1 bucket index, no libm"),

    // Greedy set-cover source selection — the data-mixture curation
    // read ("which 3 sources buy the most vocabulary?") behind corpus
    // acquisition and dedup-priority decisions. Universe = distinct
    // token BIGRAMS (the unigram vocab saturates instantly; bigrams are
    // the cheapest universe where marginal gain still differentiates
    // sources). Exact greedy: 3 rounds, each one anti-join of the
    // (source, gram) table against the covered set, a per-source gain
    // agg, and a ONE-ROW argmax collect (the k-center/MMR control-plane
    // discipline — K bounded driver reads, never a data-plane
    // materialization; ties broken by source name). The (source, gram)
    // table is localCheckpointed once; every round is two shuffles over
    // it regardless of corpus size. The oracle unrolls the identical 3
    // rounds as chained CTEs (q55's recurrence-unroll pattern).
    "q113_source_cover" -> QueryDef(
      (s, d) => {
        val sv = tbl(s, d, "documents")
          .select(col("source"), split(col("text"), " ").as("tk"))
          .where(size(col("tk")) >= 2)
          .select(col("source"),
            explode(sequence(lit(1), size(col("tk")) - 1)).as("i"), col("tk"))
          .select(col("source"), concat_ws(" ",
            element_at(col("tk"), col("i")),
            element_at(col("tk"), col("i") + 1)).as("gram"))
          .distinct()
          .localCheckpoint() // 3 greedy rounds + the total re-scan it
        val vTotal = sv.select("gram").distinct().count()
        var picked = List.empty[String]
        var cum = 0L
        // vTotal == 0 (no >=2-token docs) => the greedy has nothing to
        // cover and the cum_ppm divisor is zero; the oracle returns zero
        // rows, so short-circuit before the loop can divide.
        var exhausted = vTotal == 0L
        val rows = (1 to 3).flatMap { r =>
          if (exhausted) None
          else {
            val remaining =
              if (picked.isEmpty) sv
              else sv.filter(!col("source").isin(picked: _*))
                .join(sv.filter(col("source").isin(picked: _*))
                  .select("gram").distinct(), Seq("gram"), "left_anti")
            val best = Qh.boundedCollect(remaining.groupBy("source")
              .agg(count(lit(1)).as("gain"))
              .orderBy(col("gain").desc, col("source"))
              .limit(1), 1, "greedy source-cover argmax") // 1 row per round
            if (best.isEmpty) { exhausted = true; None } // all grams covered
            else {
              picked = best(0).getString(0) :: picked
              cum += best(0).getLong(1)
              Some((r.toLong, best(0).getString(0), best(0).getLong(1), cum,
                cum * 1000000L / vTotal))
            }
          }
        }
        import s.implicits._
        rows.toDF("round", "source", "gain", "cum_covered", "cum_ppm")
          .orderBy("round")
      },
      Some("""WITH sv AS (SELECT DISTINCT source,
             |    list_extract(tk, i) || ' ' || list_extract(tk, i + 1) AS gram
             |  FROM (SELECT source, tk, unnest(range(1, len(tk))) AS i
             |        FROM (SELECT source, string_split(text, ' ') AS tk
             |              FROM documents)
             |        WHERE len(tk) >= 2)),
             |tot AS (SELECT CAST(count(DISTINCT gram) AS BIGINT) AS v FROM sv),
             |p1 AS (SELECT source, CAST(count(*) AS BIGINT) AS gain
             |       FROM sv GROUP BY 1 ORDER BY gain DESC, source LIMIT 1),
             |c1 AS (SELECT DISTINCT gram FROM sv WHERE source IN (SELECT source FROM p1)),
             |p2 AS (SELECT source, CAST(count(*) AS BIGINT) AS gain FROM sv
             |       WHERE source NOT IN (SELECT source FROM p1)
             |         AND NOT EXISTS (SELECT 1 FROM c1 WHERE c1.gram = sv.gram)
             |       GROUP BY 1 ORDER BY gain DESC, source LIMIT 1),
             |c2 AS (SELECT DISTINCT gram FROM sv
             |       WHERE source IN (SELECT source FROM p1 UNION ALL SELECT source FROM p2)),
             |p3 AS (SELECT source, CAST(count(*) AS BIGINT) AS gain FROM sv
             |       WHERE source NOT IN (SELECT source FROM p1 UNION ALL SELECT source FROM p2)
             |         AND NOT EXISTS (SELECT 1 FROM c2 WHERE c2.gram = sv.gram)
             |       GROUP BY 1 ORDER BY gain DESC, source LIMIT 1),
             |steps AS (SELECT 1 AS round, source, gain FROM p1
             |  UNION ALL SELECT 2, source, gain FROM p2
             |  UNION ALL SELECT 3, source, gain FROM p3)
             |SELECT CAST(round AS BIGINT) AS round, source, gain,
             |  CAST(sum(gain) OVER (ORDER BY round
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_covered,
             |  CAST(divide(sum(gain) OVER (ORDER BY round
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000, v) AS BIGINT) AS cum_ppm
             |FROM steps CROSS JOIN tot ORDER BY round""".stripMargin),
      doc = "greedy 3-round set-cover source selection over the bigram " +
        "universe: anti-join vs covered, per-source gain agg, 1-row " +
        "argmax per round; oracle unrolls the identical greedy"),

    // Horvitz-Thompson calibration of the priority sampler: the
    // estimator half of sample_weighted (Duffield-Lund-Thorup) — from
    // the k=10 smallest-priority sample per source, reconstruct the
    // source's TOTAL token mass as Σ max(w_i, τ) with τ the (k+1)-th
    // priority's weight equivalent, and report the error against the
    // exact total — the self-measurement that tells a pipeline whether
    // sampled-down statistics are trustworthy (the sim_ann_recall /
    // dedup_eval_recall discipline applied to sampling). The threshold
    // is kept RATIONAL: τ = HashP·w_τ div (hash_τ+1) in exact integers,
    // so the per-item estimates and their sum are order-independent
    // 64-bit integers — no float sum across sample items anywhere. A
    // source with ≤ k docs is sampled exhaustively: τ = 0 and the
    // estimate is exact by construction (spec-pinned pole).
    "sample_ht_estimate" -> QueryDef(
      (s, d) => {
        val uh = strHash(concat(col("doc_id").cast("string"), lit(":ws"))) + 1L
        val w = Window.partitionBy("source").orderBy(col("priority"), col("doc_id"))
        val ranked = tbl(s, d, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"), uh.as("uh"),
            (uh.cast("double") / lit(HashP.toDouble) /
              col("n_chars").cast("double")).as("priority"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .localCheckpoint() // sample + threshold + exact rollup share it
        val tau = ranked.filter(col("rn") === 11L)
          .select(col("source"), expr(s"${HashP}L * n_chars div uh").as("thr"))
        val est = ranked.filter(col("rn") <= 10L)
          .join(tau, Seq("source"), "left")
          .withColumn("thr", coalesce(col("thr"), lit(0L)))
          .groupBy("source")
          .agg(count(lit(1)).as("k_sampled"),
            sum(greatest(col("n_chars"), col("thr"))).as("est_total"))
        val exact = ranked.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("exact_total"))
        exact.join(est, Seq("source"))
          .withColumn("err_ppm",
            expr("abs(est_total - exact_total) * 1000000 div exact_total"))
          .select(col("source"), col("n_docs"), col("k_sampled"),
            col("exact_total"), col("est_total"), col("err_ppm"))
          .orderBy("source")
      },
      Some(s"""WITH r AS (SELECT source, doc_id, n_chars,
              |    ${strHashSql(s"concat(CAST(doc_id AS STRING), ':ws')")} + 1 AS uh
              |  FROM documents),
              |rk AS (SELECT source, doc_id, n_chars, uh,
              |    CAST(row_number() OVER (PARTITION BY source
              |      ORDER BY CAST(uh AS DOUBLE) / ${HashP}.0 / CAST(n_chars AS DOUBLE),
              |               doc_id) AS BIGINT) AS rn
              |  FROM r),
              |tau AS (SELECT source, CAST(divide(${HashP} * n_chars, uh) AS BIGINT) AS thr
              |        FROM rk WHERE rn = 11),
              |est AS (SELECT rk.source, CAST(count(*) AS BIGINT) AS k_sampled,
              |    CAST(sum(greatest(n_chars, coalesce(thr, 0))) AS BIGINT) AS est_total
              |  FROM rk LEFT JOIN tau ON tau.source = rk.source
              |  WHERE rn <= 10 GROUP BY 1),
              |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(n_chars) AS BIGINT) AS exact_total
              |  FROM rk GROUP BY 1)
              |SELECT ex.source AS source, n_docs, k_sampled, exact_total, est_total,
              |  CAST(divide(abs(est_total - exact_total) * 1000000, exact_total) AS BIGINT) AS err_ppm
              |FROM ex JOIN est ON est.source = ex.source
              |ORDER BY 1""".stripMargin),
      doc = "Horvitz-Thompson total reconstruction from the k=10 " +
        "priority sample with an exact-integer rational threshold; " +
        "err_ppm against the true total — the sampler's calibration gate"),

    // Pairwise total-variation distance between source unigram
    // DISTRIBUTIONS — text_source_overlap asks "do sources share
    // vocabulary?"; this asks the mixture-planner's sharper question
    // "do they USE it in the same proportions?" (two sources can share
    // every token yet have wildly different registers). q97's TV
    // discipline applied to the source pair grid: exact integer token
    // counts, ppm shares by truncating div, TV = Σ|Δshare| div 2 over
    // the union domain (one-sided tokens contribute their full share).
    // The rollup is (source × vocab)-bounded; the pair expansion is
    // q98/q99's aligned grid ([[graft.Qh.alignedPairs]]).
    "text_source_tv" -> QueryDef(
      (s, d) => {
        val r = tbl(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("token"))
          .groupBy("source", "token").agg(count(lit(1)).as("n"))
          .localCheckpoint() // sizes + both pair-grid sides
        val (pairs, g) = Qh.alignedPairs(r, "source", "token", "source")
        g.join(broadcast(pairs), Seq("source_a", "source_b"))
          .withColumn("d", abs(expr("n_a * 1000000 div t_a") -
            expr("n_b * 1000000 div t_b")))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_tokens"),
            expr("sum(d) div 2").as("tv_ppm"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH r AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
             |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
             |        FROM documents)
             |  GROUP BY 1, 2),
             |${Qh.alignedPairsSql("source", "token", "source")}
             |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(divide(sum(abs(CAST(divide(n_a * 1000000, t_a) AS BIGINT)
             |    - CAST(divide(n_b * 1000000, t_b) AS BIGINT))), 2) AS BIGINT) AS tv_ppm
             |FROM g JOIN pairs USING (source_a, source_b)
             |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin),
      doc = "pairwise source-distribution total variation over the " +
        "union vocabulary in exact ppm — the register-difference signal " +
        "vocabulary overlap cannot see")
  )

  /** Continuous sequence packing (see the pack_sequences entry above for
    * the full semantics): cut each source's doc_id-ordered token stream
    * into fixed `seqLen`-token context windows, one output row per
    * (document × window it overlaps) with the exact segment geometry
    * `(start_tok, n_tok, offset_in_seq)`. `docs` needs `(source,
    * doc_id, text)`; tokenization is whitespace.
    *
    * The global per-source token offsets are a DISTRIBUTED prefix sum,
    * not a per-source window: Spark's WindowExec materializes each
    * partition key in ONE task, so `sum over partitionBy(source)` would
    * serialize a 100 TB corpus with a handful of sources onto a handful
    * of tasks. Instead: (1) bucket docs by fixed-width doc_id range
    * (deterministic — no RangePartitioner sampling, whose seed differs
    * between the two passes); (2) cumulative-sum WITHIN each
    * (source, bucket) — parallel across buckets, each bounded by
    * corpus/`nBuckets` (default [[PackBuckets]]; the output is the same
    * at any count, OperatorSpec); (3) aggregate one total row per
    * (source, bucket) and collect (bounded metadata, ≤ sources×buckets
    * rows — the same class as the dedup prune sets); (4) broadcast the
    * driver-computed exclusive bucket offsets and add. Two passes over
    * the corpus (totals + main), the canonical distributed scan-sum. */
  def packSequences(docs: org.apache.spark.sql.DataFrame,
      seqLen: Long = SeqLen, nBuckets: Int = PackBuckets): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sized = docs.select(col("source"), col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ntok"))
    // pass 0 (doc_id column only — text pruned from the scan): bucket
    // geometry. BigInt guards the width math against span overflow.
    val bounds = Qh.boundedHead(sized.agg(min(col("doc_id")), max(col("doc_id"))),
      "packSequences doc_id bounds (global aggregate)")
    val lo = if (bounds.isNullAt(0)) 0L else bounds.getAs[Number](0).longValue
    val hi = if (bounds.isNullAt(1)) 0L else bounds.getAs[Number](1).longValue
    val width = math.max(1L, ((BigInt(hi) - BigInt(lo)) / nBuckets + 1).toLong)
    val bucketed = sized.withColumn("bkt", expr(s"(doc_id - ${lo}L) div ${width}L"))
    // pass 1: per-(source, bucket) totals -> driver-side exclusive
    // prefix in (source, bucket) order -> broadcast offsets.
    // |sources| is a bounded catalog enum (<= 64 by contract); the read
    // is nBuckets x |sources| rows — structural, not data-plane.
    val totals = Qh.boundedCollect(
      bucketed.groupBy("source", "bkt").agg(sum(col("ntok")).as("tot")),
      nBuckets * 64, "packSequences per-(source,bucket) token totals")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (src, bkt, _) => (src, bkt) }
    val offs = Seq.newBuilder[(String, Long, Long)]
    var curSrc: String = null
    var acc = 0L
    totals.foreach { case (src, bkt, tot) =>
      if (src != curSrc) { curSrc = src; acc = 0L }
      offs += ((src, bkt, acc)); acc += tot
    }
    val offDf = offs.result().toDF("source", "bkt", "off")
    // pass 2: bucket-local cumsum (WindowExec keyed by (source, bkt) —
    // parallel) + broadcast offset = the global per-source prefix sum.
    val wLocal = Window.partitionBy("source", "bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("lend", sum(col("ntok")).over(wLocal))
      .join(broadcast(offDf), Seq("source", "bkt"))
      .withColumn("endg", col("lend") + col("off"))
      .withColumn("startg", col("endg") - col("ntok"))
      .withColumn("seq_id", explode(sequence(
        expr(s"startg div $seqLen"), expr(s"(endg - 1) div $seqLen"))))
      .withColumn("seg_start", greatest(col("startg"), col("seq_id") * seqLen))
      .withColumn("seg_end", least(col("endg"), (col("seq_id") + 1L) * seqLen))
      .select(col("source"), col("seq_id"), col("doc_id"),
        (col("seg_start") - col("startg")).as("start_tok"),
        (col("seg_end") - col("seg_start")).as("n_tok"),
        (col("seg_start") - col("seq_id") * seqLen).as("offset_in_seq"))
  }

  /** Seeded deterministic corpus shuffle (see sample_shuffle above):
    * polynomial-hash key per doc, `shards` reader shards by key-mod,
    * dense ranks within each shard. Same seed → same epoch order.
    *
    * Shard count: `shards` (default [[ShuffleShards]] = 8, the count
    * sample_shuffle and its oracle use) — pass ≈ the training-reader
    * count at scale: each shard's rank window is ONE task, so the shard
    * count IS the parallelism of the ordering step. Ordering within a
    * shard is by (skey, doc_id) — a global total order restricted to
    * the shard — so two docs that land in the same shard keep the same
    * relative order at ANY shard count (spec-asserted at 64):
    * re-sharding for more readers never reorders a reader's stream, it
    * only re-partitions it. */
  def shuffleShards(docs: org.apache.spark.sql.DataFrame, seed: Long = 42L,
      shards: Long = ShuffleShards): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    docs
      .select(col("doc_id"))
      .withColumn("skey", Qh.strHash(concat(col("doc_id").cast("string"), lit(s":$seed"))))
      .withColumn("shard", col("skey") % shards)
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col("shard"), col("rk"), col("doc_id"), col("skey"))
  }
}

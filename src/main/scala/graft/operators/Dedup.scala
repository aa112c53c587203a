package graft.operators

import graft.{QueryDef, Qh}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operator family over `documents` — the LLM-training-data
  * pipeline mandate: exact (hash groupBy), MinHash+LSH (shingle → minhash
  * → band → bucket-join), SimHash, n-gram Jaccard, embedding-cosine
  * near-dup (see also [[Similarity]] for the ANN path).
  *
  * Reference heritage: cross-run dedup T7 (internal/producer/fetch.go:155-173,
  * internal/clients/valkey_client.go:126-159) and in-batch URL dedup T19
  * (internal/topic_generation/topic_generation.go:202-216) — generalized
  * from equality on an id to content-similarity at 100 TB scale.
  *
  * Scale design: every near-dup variant is an EQUI-join on a small derived
  * key (LSH band key / LSH bucket / fingerprint) — shuffles partition by
  * that key, so candidate generation is O(collisions), never O(n²) across
  * the corpus. The pairwise verify step runs only within key groups.
  * Determinism: all hashing is integer arithmetic mod a prime (see
  * [[graft.Qh.strHash]]), identical in Spark and the DuckDB oracle.
  */
object Dedup {
  import Qh._

  /** Per-token polynomial hashes of the distinct whitespace tokens.
    * Unordered (distinct-set ordering is engine-dependent) — use ONLY in
    * order-insensitive folds: minhash (min), simhash (sum). Native fused
    * expression ([[graft.plans.TokHashes]]); [[tokHashesDecl]] is the
    * parity witness. */
  def tokHashes(text: Column): Column = graft.plans.TokHashes.column(text, distinct = true)

  /** Declarative (built-ins + PolyHash) form of [[tokHashes]]. */
  def tokHashesDecl(text: Column): Column =
    transform(toks(text), t => graft.plans.PolyHash.column(t))

  /** Same, DuckDB. `e` is the text expression. */
  def tokHashesSql(e: String): String =
    s"list_transform(list_distinct(string_split($e, ' ')), tkn -> " +
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split(tkn, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(h, c) -> (h*31 + c) % $HashP))"

  /** Token hashes in ORIGINAL text order (duplicates kept) — required for
    * anything order-sensitive, e.g. n-gram shingling. */
  def tokHashesSeq(text: Column): Column = graft.plans.TokHashes.column(text, distinct = false)

  /** Declarative form of [[tokHashesSeq]] (parity witness). */
  def tokHashesSeqDecl(text: Column): Column =
    transform(split(text, " "), t => graft.plans.PolyHash.column(t))

  def tokHashesSeqSql(e: String): String =
    s"list_transform(string_split($e, ' '), tkn -> " +
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split(tkn, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(h, c) -> (h*31 + c) % $HashP))"

  /** MinHash parameters: 8 independent affine hashes mod HashP, grouped
    * into 4 bands × 2 rows. Constants are plain integers so both engines
    * generate identical signatures. */
  val MinHashes = 8
  val Bands = 4
  val RowsPerBand: Int = MinHashes / Bands
  val hashParams: Seq[(Long, Long)] =
    (0 until MinHashes).map(i => (((2 * i + 1) * 104729L) % HashP, (7919L * i + 12345L) % HashP))

  /** Full 8-hash signature in one pass — native codegen expression (see
    * [[graft.plans.MinHashSig]] for why the per-hash declarative fold is
    * a codegen-size hazard). */
  def minhashSig(th: Column): Column = graft.plans.MinHashSig.column(th)

  /** i-th minhash of a token-hash array column — declarative (built-ins
    * only) form, kept as the parity witness for [[minhashSig]] and as the
    * definition the DuckDB oracle mirrors. */
  def minhash(th: Column, i: Int): Column = {
    val (a, b) = hashParams(i)
    array_min(transform(th, h => pmod(h * a + b, lit(HashP))))
  }

  def minhashSql(th: String, i: Int): String = {
    val (a, b) = hashParams(i)
    s"list_min(list_transform($th, mh -> (mh*$a + $b) % $HashP))"
  }

  /** Band key of band j from a signature-array column ([[minhashSig]]):
    * the rows of the band joined as "m0:m1". [[bandKeySql]] is the DuckDB
    * mirror over per-hash mh$i columns. */
  def bandKeyOf(sig: Column, j: Int): Column =
    concat_ws(":", (0 until RowsPerBand).map(r => element_at(sig, j * RowsPerBand + r + 1)): _*)

  /** Explode a signature column into one (band, bkey) posting row per
    * band, carrying `keep` through — the single definition of LSH
    * candidate-posting generation shared by every banded operator. */
  def bandExplode(df: org.apache.spark.sql.DataFrame, sigCol: String, keep: Seq[String])
      : org.apache.spark.sql.DataFrame =
    df.select(keep.map(col) :+
      explode(array((0 until Bands).map(j =>
        struct(lit(j).as("band"), bandKeyOf(col(sigCol), j).as("bkey"))): _*)).as("bk"): _*)
      .select(keep.map(col) :+ col("bk.band").as("band") :+ col("bk.bkey").as("bkey"): _*)

  def bandKeySql(j: Int): String =
    "concat_ws(':', " + (0 until RowsPerBand).map(r => s"mh${j * RowsPerBand + r}").mkString(", ") + ")"

  /** The MinHash oracle's `sig` and `banded` CTEs (comma-separated, no
    * trailing comma) over the CTE `src`: `sig` holds the `carry` columns
    * plus the [[MinHashes]] minhashes mh0.. of the hash-array column
    * `hashCol`, and `banded` one row per (doc, band) with the `carry`
    * columns, `band` and `bkey` — the DuckDB mirror of
    * [[minhashSig]] + [[bandExplode]] every banded oracle shares. */
  private def bandOracleSql(src: String, hashCol: String, carry: Seq[String]): String = {
    val cs = carry.mkString(", ")
    val mhs = (0 until MinHashes).map(i => s"${minhashSql(hashCol, i)} AS mh$i").mkString(",\n    ")
    val bandRows = (0 until Bands).map(j => s"SELECT $cs, $j AS band, ${bandKeySql(j)} AS bkey FROM sig")
      .mkString("\nUNION ALL\n")
    s"sig AS (SELECT $cs,\n    $mhs\n  FROM $src),\nbanded AS ($bandRows)"
  }

  /** Keep-first LSH candidates over a posting table `banded` (doc_id,
    * band, bkey and the `scope` columns): one (scope.., doc_id, min_id)
    * row per doc and each distinct smaller minimum of a (scope, band,
    * bkey) bucket it sits in — at most [[Bands]] verifications per doc,
    * the candidate rule of [[defs dedup_minhash_lsh]]'s keep-first
    * dedup. [[bucketMinSql]] is the DuckDB mirror. */
  def bucketMinPairs(banded: DataFrame, scope: Seq[String]): DataFrame = {
    val bucket = scope ++ Seq("band", "bkey")
    banded.join(banded.groupBy(bucket.map(col): _*).agg(min("doc_id").as("min_id")), bucket)
      .filter(col("doc_id") > col("min_id"))
      .select((scope :+ "doc_id" :+ "min_id").map(col): _*).distinct()
  }

  /** The oracle's `bucket_min` and `cand` CTEs over [[bandOracleSql]]'s
    * `banded` — `cand` holds [[bucketMinPairs]]' (scope.., doc_id,
    * min_id) rows. */
  private def bucketMinSql(scope: Seq[String]): String = {
    val bucket = (scope ++ Seq("band", "bkey")).mkString(", ")
    val on = (scope ++ Seq("band", "bkey")).map(c => s"b.$c = m.$c").mkString(" AND ")
    s"bucket_min AS (SELECT $bucket, MIN(doc_id) AS min_id FROM banded GROUP BY $bucket),\n" +
      s"cand AS (SELECT DISTINCT ${scope.map(c => s"b.$c, ").mkString}b.doc_id, m.min_id\n" +
      s"  FROM banded b JOIN bucket_min m ON $on\n  WHERE b.doc_id > m.min_id)"
  }

  /** SimHash: 60-bit fingerprint = 4 bands × 15 bits (Manku et al.,
    * "Detecting Near-Duplicates for Web Crawling", WWW'07 shape: wide
    * fingerprint + banded index). 60 bits keeps the packed value inside a
    * signed long; 15-bit bands are selective enough (1/32768) that band
    * collisions between unrelated docs are rare — this is what makes the
    * banded candidate join prune at scale (a 16-bit fingerprint's 4-bit
    * bands collide constantly and prune nothing).
    *
    * Token hashes carry only ~20 bits (mod HashP), so band j draws its 15
    * bits from an independent affine re-hash g_j = (h·Aj + Bj) mod HashP:
    * bit b = bit (b mod 15) of g_(b/15).
    */
  val SimHashBits = 60
  val SimBandBits = 15
  val SimBands: Int = SimHashBits / SimBandBits
  val simParams: Seq[(Long, Long)] =
    (0 until SimBands).map(j => ((2 * j + 3) * 130363L % HashP, (9973L * j + 54321L) % HashP))

  /** Native codegen'd fingerprint — see [[graft.plans.SimHash60]]. */
  def simhash(th: Column): Column = graft.plans.SimHash60.column(th)

  /** Declarative (built-ins only) formulation, kept as the parity witness
    * for the native expression: HOFs are CodegenFallback, so this walks an
    * interpreted tree per (token × bit) — ~60 lambda evals per token. */
  def simhashDecl(th: Column): Column = {
    // Single pass over th: fold into a 60-slot sum array, then collapse to
    // bits. Higher-order-function arguments are evaluated once per call —
    // the naive per-bit formulation re-evaluates the (inlined) token-hash
    // fold 60x per row after CollapseProject, which dominates runtime.
    val as = typedlit(simParams.map(_._1))
    val bs = typedlit(simParams.map(_._2))
    val sums = aggregate(
      th,
      array_repeat(lit(0L), SimHashBits),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(SimHashBits - 1)), (a, b) => {
        val j = (b / SimBandBits).cast("int")
        val g = pmod(h * element_at(as, j + 1) + element_at(bs, j + 1), lit(HashP))
        // g < 2^20 so double division is exact here; bit = (g >> (b%15)) & 1
        a + when(pmod((g / pow(lit(2.0), pmod(b, lit(SimBandBits)))).cast("long"), lit(2L)) === 1L, 1L)
          .otherwise(-1L)
      }))
    aggregate(
      zip_with(sums, sequence(lit(0), lit(SimHashBits - 1)), (s2, b) =>
        when(s2 > 0, pow(lit(2.0), b).cast("long")).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
  }

  def simhashSql(th: String): String = {
    // list_value/list_extract/divide, not []/[]/'//': identical in
    // DuckDB, and the fragment then also parses in spark.sql via the
    // DuckCompat aliases (Spark brackets are 0-based; // is unparseable).
    val as = simParams.map(_._1).mkString("list_value(", ", ", ")")
    val bs = simParams.map(_._2).mkString("list_value(", ", ", ")")
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, $SimHashBits), bb ->
       |    CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($th, hh ->
       |        CASE WHEN divide((hh * list_extract($as, divide(bb, $SimBandBits)::INT + 1)
       |                          + list_extract($bs, divide(bb, $SimBandBits)::INT + 1)) % $HashP,
       |                         power(2, bb % $SimBandBits)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END)), (s2, v) -> s2 + v) > 0
       |    THEN power(2, bb)::BIGINT ELSE 0 END)), (acc, v) -> acc + v)""".stripMargin
  }

  /** Token-3-gram shingle hashes (distinct, first-occurrence order) from
    * a token-hash array — native codegen expression
    * ([[graft.plans.Shingles3]]); runs once per corpus document in every
    * shingle-family query. Bit-identical to [[shingles3Decl]]. */
  def shingles3(th: Column): Column = graft.plans.Shingles3.column(th, distinct = true)

  def shingles3Sql(th: String): String =
    s"list_distinct(${shingles3RawSql(th)})"

  /** Non-distinct variant of [[shingles3]]: every 3-gram occurrence, in
    * text order — required by repetition metrics where the duplicate
    * count IS the signal. */
  def shingles3Raw(th: Column): Column = graft.plans.Shingles3.column(th, distinct = false)

  /** Declarative (HOF) forms — parity witnesses for the native
    * [[graft.plans.Shingles3]] expression (PolyHashSpec). Built with
    * zip_with over shifted slices — NOT element_at inside a lambda, which
    * would re-evaluate the (inlined) th expression per element access
    * after projection collapse. zip_with pads the shorter side with
    * nulls; the trailing null partials are filtered off. */
  def shingles3Decl(th: Column): Column = array_distinct(shingles3RawDecl(th))

  def shingles3RawDecl(th: Column): Column = {
    val s1 = slice(th, lit(2), greatest(size(th) - 1, lit(0)))
    val s2 = slice(th, lit(3), greatest(size(th) - 2, lit(0)))
    val p1 = zip_with(th, s1, (x, y) => pmod(x * 31 + y, lit(HashP)))
    val p2 = zip_with(p1, s2, (xy, z) => pmod(xy * 31 + z, lit(HashP)))
    filter(p2, x => x.isNotNull)
  }

  // list_extract, not brackets: identical in DuckDB (both 1-based), and
  // the spelling also runs verbatim in spark.sql (element_at via the
  // DuckCompat alias — Spark brackets are 0-based, list_extract is not).
  def shingles3RawSql(th: String): String =
    s"list_transform(range(1, greatest(len($th) - 1, 1)), i -> " +
      s"(((list_extract($th, i)*31 + list_extract($th, i+1)) % $HashP)*31 " +
      s"+ list_extract($th, i+2)) % $HashP)"

  /** Exact Jaccard of two pre-distinct array columns — native codegen
    * expression (see [[graft.plans.JaccardSim]]; runs per candidate pair,
    * millions of times in the exact-baseline queries). */
  def jaccard(a: Column, b: Column): Column = graft.plans.JaccardSim.column(a, b)

  /** Declarative (built-ins only) form — the parity witness for
    * [[jaccard]] and the definition the DuckDB oracle mirrors. */
  def jaccardDecl(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("long")
    round(inter.cast("double") / (size(a).cast("long") + size(b) - inter), 4)
  }

  /** The intersection is counted over DISTINCT elements (list_distinct on
    * the probe side) to match Spark's array_intersect/JaccardSim: token-
    * hash arrays CAN contain duplicate values — two distinct tokens
    * colliding mod HashP keep both occurrences by design — and counting
    * them twice would yield impossible jaccard values > 1. */
  def jaccardSql(a: String, b: String): String =
    s"round(CAST(len(list_filter(list_distinct($a), jv -> list_contains($b, jv))) AS DOUBLE) / " +
      s"(len($a) + len($b) - len(list_filter(list_distinct($a), jv -> list_contains($b, jv)))), 4)"

  /** dedup_substring window length (tokens). Declared BEFORE `defs`: the
    * oracle SQL interpolates it at object init. Any verbatim repeat of at
    * least this many tokens contains at least one repeated window. */
  val SubstringWindow = 16

  /** dedup_eval_recall's fixed truth-panel size. CONSTANT by design (the
    * sim_ann_recall 20-query-panel shape): the eval's truth side joins
    * panel × corpus — linear in corpus size for any fixed panel — so the
    * shipped measurement runs at ANY scale, unlike the all-pairs exact
    * truth it estimates (config-guarded baseline mode). Declared BEFORE
    * `defs` (oracle SQL interpolates it at object init). */
  val EvalPanelSize = 256

  /** Deterministic fixed-size eval panel: the [[EvalPanelSize]] docs with
    * the smallest 58-bit polynomial digest of the id's decimal string
    * ([[graft.Qh.strHashWide]]), ties broken by doc_id — a uniform
    * pseudo-random sample both engines compute identically, planned as
    * TakeOrderedAndProject (no global sort). The digit-string fold (vs
    * the r9 affine `id·104729 + 12345 mod 1000003`) is exact in signed
    * 64-bit for ANY BIGINT id in BOTH engines (the affine form raised a
    * DuckDB overflow past id ~8.8e13 while Spark wrapped silently) and
    * keeps the panel unbiased past 1e6 docs (at ~20 bits the doc_id
    * tie-break favored small ids once buckets collided). Input must
    * carry doc_id/source/tk. */
  def evalPanel(base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    base.select(col("doc_id"), col("source"), col("tk"))
      .withColumn("ph", strHashWide(col("doc_id").cast("string")))
      .orderBy("ph", "doc_id").limit(EvalPanelSize).drop("ph")

  /** Doc-level dedup ground truth over a panel: panel member b SHOULD
    * drop iff some EARLIER same-source corpus doc a has token-Jaccard
    * ≥ 0.7 with it. Passing the full base as the panel yields the exact
    * all-pairs truth (the guarded baseline mode); a fixed panel makes
    * this one bounded equi-join per source — linear in corpus size. */
  def evalTruthDrop(base: org.apache.spark.sql.DataFrame,
      panel: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    panel.select(col("source"), col("doc_id").as("b"), col("tk").as("tb"))
      .join(base.select(col("source"), col("doc_id").as("a"), col("tk").as("ta")),
        Seq("source"))
      .filter(col("a") < col("b"))
      .filter(jaccard(col("ta"), col("tb")) >= 0.7)
      .select(col("source"), col("b")).distinct()

  val defs: Seq[(String, QueryDef)] = Seq(

    // Exact dedup via content fingerprint: hash-groupBy on the normalized
    // text hash, keep the lowest doc_id per group (reference T19 keep-first,
    // topic_generation.go:202-216). One shuffle on the 8-byte fingerprint —
    // never on the full text. The fingerprint is the 58-bit WinHashP
    // digest (r10; was the ~20-bit HashP demo hash): an EXACT-dup
    // decision keyed on 1e6 buckets false-merges distinct texts at
    // ~n²/2e6 — a dozen silently dropped docs at 5k docs, certainty at
    // corpus scale — and made downstream kept-counts depend on arrival
    // order (colliding texts with different quality verdicts). At 2^58
    // the same birthday term is ~n²/5.9e17.
    "dedup_exact" -> QueryDef(
      (s, d) => tbl(s, d, "documents")
        .select(col("source"), col("doc_id"), strHashWide(lower(trim(col("text")))).as("fp"))
        .groupBy("source", "fp")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("source", "keep_id"),
      Some(s"""SELECT source, fp, CAST(MIN(doc_id) AS BIGINT) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
              |FROM (SELECT source, doc_id, ${strHashWideSql("lower(trim(text))")} AS fp FROM documents)
              |GROUP BY source, fp ORDER BY source, keep_id""".stripMargin)),

    // URL-canonicalization dedup — the first dedup any web-crawl corpus
    // runs, BEFORE content hashing: the same article arrives under
    // mixed-case hosts, tracking query params (utm_*, ref), shuffled
    // param order, and trailing slashes. Each doc gets a DETERMINISTIC
    // synthetic messy URL (testdata carries none; the text_pii_redact
    // precedent); canonicalization lowercases scheme+host ONLY (paths
    // are case-sensitive), drops tracking params, sorts the survivors,
    // and strips the trailing slash — then keep-first groups on the
    // canonical string. All per-row regex/array work; the one shuffle is
    // the final groupBy on the canonical key. Regex discipline: '?' is
    // split through char-class patterns ('[?]', '^[^?]+') because a bare
    // '?' is a regex metachar in Spark's split but a literal in
    // DuckDB's string_split — no verbatim-portable bare spelling exists.
    "dedup_url_canonical" -> QueryDef(
      (s, d) => {
        val item = pmod(col("doc_id"), lit(60L)).cast("string")
        val url = concat(lit("https://WWW.Example.COM/"), col("source"),
          lit("/item/"), item, lit("/?utm_source=rss&id="), item,
          lit("&utm_campaign=c"), pmod(col("doc_id"), lit(7L)).cast("string"),
          lit("&ref=feed"))
        val pathPart = regexp_extract(url, "^[^?]+", 0)
        val query = regexp_extract(url, "[?](.*)$", 1)
        val host = regexp_extract(pathPart, "^[^/]*//[^/]*", 0)
        val rest = expr("substring(path_part, length(host_part) + 1)")
        // startsWith, NOT LIKE 'utm_%': '_' is a single-char LIKE
        // wildcard, so the LIKE form also drops 'utmz='/'utma='-style
        // params — broader than the literal 'utm_' prefix intended
        // (oracle-invisible on synthetic URLs, wrong on real crawls).
        val kept = array_sort(filter(split(query, "&"),
          p => !(p.startsWith("utm_") || p.startsWith("ref="))))
        tbl(s, d, "documents")
          .withColumn("path_part", pathPart).withColumn("host_part", host)
          .withColumn("url_canon", concat(lower(col("host_part")),
            regexp_replace(rest, "/$", ""),
            when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
              .otherwise(lit(""))))
          .groupBy("url_canon")
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy("keep_id")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    'https://WWW.Example.COM/' || source || '/item/' ||
             |      CAST(doc_id % 60 AS STRING) || '/?utm_source=rss&id=' ||
             |      CAST(doc_id % 60 AS STRING) || '&utm_campaign=c' ||
             |      CAST(doc_id % 7 AS STRING) || '&ref=feed' AS url
             |  FROM documents),
             |p AS (SELECT doc_id,
             |        regexp_extract(url, '^[^?]+', 0) AS path_part,
             |        regexp_extract(url, '[?](.*)$', 1) AS query
             |      FROM u),
             |h AS (SELECT doc_id, path_part, query,
             |        regexp_extract(path_part, '^[^/]*//[^/]*', 0) AS host_part
             |      FROM p),
             |c AS (SELECT doc_id,
             |        lower(host_part) ||
             |        regexp_replace(substring(path_part, len(host_part) + 1), '/$', '') ||
             |        CASE WHEN len(list_sort(list_filter(string_split(query, '&'),
             |                 q -> NOT (starts_with(q, 'utm_') OR starts_with(q, 'ref='))))) > 0
             |             THEN '?' || array_to_string(list_sort(list_filter(string_split(query, '&'),
             |                 q -> NOT (starts_with(q, 'utm_') OR starts_with(q, 'ref=')))), '&')
             |             ELSE '' END AS url_canon
             |      FROM h)
             |SELECT url_canon, CAST(min(doc_id) AS BIGINT) AS keep_id,
             |  CAST(count(*) AS BIGINT) AS n_copies
             |FROM c GROUP BY url_canon ORDER BY keep_id""".stripMargin),
      doc = "canonical-URL keep-first dedup: lowercase host, tracking " +
        "params dropped, params sorted, trailing slash stripped"),

    // Template dedup — the C4-style boilerplate class exact hashing is
    // blind to: receipts/invoices/notifications that differ ONLY in
    // embedded numbers (ids, totals, dates). Masking digit runs to '#'
    // before fingerprinting collapses every instance of a template into
    // one group; n_variants (distinct EXACT fingerprints inside the
    // group) is the tell — a template group has many variants, a true
    // exact-dup group has one. Every 5th doc is rewritten into a planted
    // invoice template (testdata text carries no digits; the
    // text_pii_redact planting precedent), so the detector provably
    // collapses 20% of the corpus into a single template while leaving
    // organic docs alone. One groupBy on the 8-byte masked fingerprint.
    "dedup_template" -> QueryDef(
      (s, d) => {
        val txt = when(pmod(col("doc_id"), lit(5L)) === 0L,
          concat(lit("invoice "), pmod(col("doc_id"), lit(40L)).cast("string"),
            lit(" total "), pmod(col("doc_id") * 7L, lit(1000L)).cast("string"),
            lit(" thank you for your purchase")))
          .otherwise(col("text"))
        tbl(s, d, "documents")
          .select(col("doc_id"), txt.as("txt"))
          .select(col("doc_id"),
            strHash(regexp_replace(lower(col("txt")), "[0-9]+", "#")).as("template_fp"),
            strHash(lower(col("txt"))).as("exact_fp"))
          .groupBy("template_fp")
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"),
            countDistinct(col("exact_fp")).as("n_variants"))
          .orderBy("keep_id")
      },
      Some(s"""WITH t AS (SELECT doc_id,
              |    CASE WHEN doc_id % 5 = 0
              |         THEN 'invoice ' || CAST(doc_id % 40 AS STRING) || ' total ' ||
              |              CAST((doc_id * 7) % 1000 AS STRING) ||
              |              ' thank you for your purchase'
              |         ELSE text END AS txt
              |  FROM documents),
              |f AS (SELECT doc_id,
              |    ${strHashSql("regexp_replace(lower(txt), '[0-9]+', '#', 'g')")} AS template_fp,
              |    ${strHashSql("lower(txt)")} AS exact_fp
              |  FROM t)
              |SELECT template_fp, CAST(min(doc_id) AS BIGINT) AS keep_id,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(count(DISTINCT exact_fp) AS BIGINT) AS n_variants
              |FROM f GROUP BY template_fp ORDER BY keep_id""".stripMargin),
      doc = "digit-masked template dedup: collapses number-varying " +
        "boilerplate exact hashing misses; n_variants >> 1 is the tell"),

    // MinHash + LSH dedup: signature → band keys → bucket-group → verify
    // each doc ONLY against its bucket's min doc_id → drop on Jaccard >=
    // 0.7 → emit the kept corpus. This is the 100 TB shape: a pair-list
    // output is inherently O(matching pairs) (quadratic on near-dup-heavy
    // corpora); keep-first dedup does <= Bands exact verifications per doc
    // and its joins/groupBys all shuffle on the compact band key.
    "dedup_minhash_lsh" -> QueryDef(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val base = docs
          .select(col("doc_id"), toks(col("text")).as("tk"), tokHashes(col("text")).as("th"))
        val sig = base.withColumn("mhs", minhashSig(col("th")))
        val cand = bucketMinPairs(bandExplode(sig, "mhs", Seq("doc_id")), Nil)
        val tkOf = base.select(col("doc_id"), col("tk"))
        val dropped = cand
          .join(tkOf.select(col("doc_id"), col("tk").as("ta")), Seq("doc_id"))
          .join(tkOf.select(col("doc_id").as("min_id"), col("tk").as("tb")), Seq("min_id"))
          .filter(jaccard(col("ta"), col("tb")) >= 0.7)
          .select("doc_id").distinct()
        docs.join(dropped, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      },
      Some {
        s"""WITH base AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk,
           |    ${tokHashesSql("text")} AS th FROM documents),
           |${bandOracleSql("base", "th", Seq("doc_id"))},
           |${bucketMinSql(Nil)},
           |dropped AS (SELECT DISTINCT c.doc_id FROM cand c
           |            JOIN base x ON x.doc_id = c.doc_id
           |            JOIN base y ON y.doc_id = c.min_id
           |            WHERE ${jaccardSql("x.tk", "y.tk")} >= 0.7)
           |SELECT doc_id, source FROM documents
           |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
           |ORDER BY doc_id""".stripMargin
      }),

    // MinHash estimator-quality audit: on every LSH candidate pair, the
    // signature estimate (matching components / 8) vs the EXACT token
    // Jaccard — grouped by match count, with mean |error| and SIGNED
    // bias in ppm. This is the measurement that justifies (or indicts)
    // the 8-hash/4-band config every minhash dedup entry shares: the
    // bias column exposes the conditional-on-collision selection effect
    // (pairs that made it through banding agree more than their true
    // Jaccard — anti-conservative for borderline pairs), and the error
    // column says how wide the dedup threshold's gray zone really is.
    // Completes the eval family (ann/dedup-recall/clf/langid) on the
    // estimator axis. Audits the pairs the OPERATOR actually verifies —
    // each doc vs its bucket's min doc, dedup_minhash_lsh's candidate
    // policy (≤ Bands pairs per doc, so the audit stays linear even on
    // a near-dup-saturated corpus where all band collisions would be
    // quadratic) — because an estimator audit must grade the shipped
    // decision set, not a stricter proxy. Scale shape: identical
    // bucket-min candidate generation as dedup_minhash_lsh, one
    // signature+token fetch per pair, a ≤9-row output agg. Sign-safe
    // truncating division (q93).
    "dedup_minhash_error" -> QueryDef(
      (s, d) => {
        val base = tbl(s, d, "documents")
          .select(col("doc_id"), toks(col("text")).as("tk"), tokHashes(col("text")).as("th"))
        val sig = base.withColumn("mhs", minhashSig(col("th")))
          .select(col("doc_id"), col("tk"), col("mhs"))
          .localCheckpoint() // banded + both pair-fetch sides
        bucketMinPairs(bandExplode(sig, "mhs", Seq("doc_id")), Nil)
          .select(col("min_id").as("a"), col("doc_id").as("b"))
          .join(sig.select(col("doc_id").as("a"), col("tk").as("ta"),
            col("mhs").as("ma")), Seq("a"))
          .join(sig.select(col("doc_id").as("b"), col("tk").as("tb"),
            col("mhs").as("mb")), Seq("b"))
          .withColumn("matches",
            expr("aggregate(zip_with(ma, mb, (x, y) -> " +
              "IF(x = y, CAST(1 AS BIGINT), CAST(0 AS BIGINT))), " +
              "CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
          .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
          .withColumn("uni",
            size(col("ta")).cast("long") + size(col("tb")).cast("long") - col("inter"))
          .withColumn("j_ppm", expr("inter * 1000000 div uni"))
          .withColumn("e_ppm", col("matches") * lit(125000L))
          .groupBy("matches")
          .agg(count(lit(1)).as("n_pairs"), sum(col("j_ppm")).as("sj"),
            sum(abs(col("e_ppm") - col("j_ppm"))).as("sae"),
            sum(col("e_ppm") - col("j_ppm")).as("sb"))
          .withColumn("est_ppm", col("matches") * lit(125000L))
          .withColumn("mean_j_ppm", expr("sj div n_pairs"))
          .withColumn("mean_abs_err_ppm", expr("sae div n_pairs"))
          .withColumn("bias_ppm",
            expr("CASE WHEN sb >= 0 THEN sb div n_pairs " +
              "ELSE -((-sb) div n_pairs) END"))
          .select(col("matches"), col("est_ppm"), col("n_pairs"),
            col("mean_j_ppm"), col("mean_abs_err_ppm"), col("bias_ppm"))
          .orderBy("matches")
      },
      Some {
        val eq = (0 until MinHashes).map(i =>
          s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH base AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk,
           |    ${tokHashesSql("text")} AS th FROM documents),
           |${bandOracleSql("base", "th", Seq("doc_id", "tk"))},
           |${bucketMinSql(Nil)},
           |p AS (SELECT CAST($eq AS BIGINT) AS matches,
           |    CAST(len(list_filter(x.tk, jv -> list_contains(y.tk, jv))) AS BIGINT) AS inter,
           |    CAST(len(x.tk) + len(y.tk) AS BIGINT) AS szsum
           |  FROM cand c JOIN sig x ON x.doc_id = c.min_id JOIN sig y ON y.doc_id = c.doc_id),
           |q AS (SELECT matches, matches * 125000 AS e_ppm,
           |    CAST(divide(inter * 1000000, szsum - inter) AS BIGINT) AS j_ppm
           |  FROM p),
           |g AS (SELECT matches, CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(j_ppm) AS BIGINT) AS sj,
           |    CAST(sum(abs(e_ppm - j_ppm)) AS BIGINT) AS sae,
           |    CAST(sum(e_ppm - j_ppm) AS BIGINT) AS sb
           |  FROM q GROUP BY 1)
           |SELECT matches, matches * 125000 AS est_ppm, n_pairs,
           |  CAST(divide(sj, n_pairs) AS BIGINT) AS mean_j_ppm,
           |  CAST(divide(sae, n_pairs) AS BIGINT) AS mean_abs_err_ppm,
           |  CAST(CASE WHEN sb >= 0 THEN divide(sb, n_pairs)
           |    ELSE -divide(-sb, n_pairs) END AS BIGINT) AS bias_ppm
           |FROM g ORDER BY matches""".stripMargin
      },
      doc = "MinHash estimator audit on LSH candidate pairs: signature " +
        "estimate vs exact Jaccard per match count — mean |error| and " +
        "signed conditional-on-collision bias in ppm"),

    // SimHash fingerprints + near-dup pairs at Hamming distance <= 3 within
    // a source. Candidate generation bands the 60 fingerprint bits into 4
    // 15-bit words: a pair at distance <= 3 differs in at most 3 bands, so
    // by pigeonhole it collides EXACTLY (no recall loss, unlike
    // probabilistic MinHash banding) in at least one band. The join is an
    // equi-join on (source, band, word) — O(collisions), never O(n²) —
    // and the full-fingerprint Hamming verify runs per candidate. Band
    // extraction uses integer shifts only: sh spans 60 bits, past double's
    // 2^53 exact range, so a float division here would corrupt high bands.
    "dedup_simhash" -> QueryDef(
      (s, d) => {
        val docs = tbl(s, d, "documents")
          .select(col("source"), col("doc_id"), simhash(tokHashes(col("text"))).as("sh"))
        val banded = docs.select(
          col("source"), col("doc_id"), col("sh"),
          explode(array((0 until SimBands).map(j =>
            struct(lit(j).as("band"),
              shiftright(col("sh"), SimBandBits * j).bitwiseAND(lit((1L << SimBandBits) - 1)).as("word"))): _*)).as("bk"))
          .select(col("source"), col("doc_id"), col("sh"),
            col("bk.band").as("band"), col("bk.word").as("word"))
        banded.select(col("source"), col("band"), col("word"), col("doc_id").as("a"), col("sh").as("sha"))
          .join(banded.select(col("source"), col("band"), col("word"), col("doc_id").as("b"), col("sh").as("shb")),
            Seq("source", "band", "word"))
          .filter(col("a") < col("b"))
          .withColumn("hamming", bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long"))
          .filter(col("hamming") <= 3)
          .select(col("source"), col("a"), col("b"), col("hamming")).distinct()
          .orderBy("source", "a", "b")
      },
      Some(s"""WITH t AS (SELECT source, doc_id, ${simhashSql(tokHashesSql("text"))} AS sh FROM documents),
              |banded AS (
              |  SELECT source, doc_id, sh, band, (sh >> ($SimBandBits * band)::INT) & ${(1L << SimBandBits) - 1} AS word
              |  FROM t, (SELECT unnest(range(0, $SimBands)) AS band))
              |SELECT DISTINCT x.source AS source, x.doc_id AS a, y.doc_id AS b,
              |  CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hamming
              |FROM banded x JOIN banded y
              |  ON x.source = y.source AND x.band = y.band AND x.word = y.word AND x.doc_id < y.doc_id
              |WHERE bit_count(xor(x.sh, y.sh)) <= 3
              |ORDER BY source, a, b""".stripMargin)),

    // n-gram (token-3-gram shingle) Jaccard near-dup within source, with a
    // MinHash-LSH banding prefilter over the shingle sets: candidates are
    // band-key collisions, so exact-Jaccard verification runs on O(hits),
    // not all O(n²/sources) pairs. Word 3-grams are order-sensitive, so
    // this catches re-orderings the unigram Jaccard (q28a) misses. The
    // oracle applies the identical prefilter — candidate-generation is part
    // of the declared operator semantics (as with any LSH method, a pair
    // that collides in no band is not reported). Each candidate is decided
    // once, inside its first colliding bucket ([[verifyInBucket]]);
    // rounded J ≥ 0.3 is the integer test jaccard4 ≥ 3000.
    "dedup_ngram_jaccard" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val base = tbl(s, d, "documents")
          .select(col("source"), col("doc_id"), shingles3(tokHashesSeq(col("text"))).as("sh"))
          .filter(size(col("sh")) > 0)
        verifyInBucket("dedup_ngram_jaccard", base, col("source"), col("sh"),
            size(col("sh")), sort_array(col("sh")), window = jaccardWindow(3000)) { (x, y) =>
          val j4 = jaccard4(x, y)
          if (j4 < 3000L) None
          else Some((x.scope, math.min(x.id, y.id), math.max(x.id, y.id), j4 / 10000.0))
        }.toDF("source", "a", "b", "jaccard").orderBy("source", "a", "b")
      },
      Some(s"""WITH base AS (SELECT source, doc_id, ${shingles3Sql(tokHashesSeqSql("text"))} AS sh FROM documents),
              |nonempty AS (SELECT * FROM base WHERE len(sh) > 0),
              |${bandOracleSql("nonempty", "sh", Seq("source", "doc_id", "sh"))}
              |SELECT DISTINCT x.source AS source, x.doc_id AS a, y.doc_id AS b,
              |  ${jaccardSql("x.sh", "y.sh")} AS jaccard
              |FROM banded x JOIN banded y
              |  ON x.source = y.source AND x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
              |WHERE ${jaccardSql("x.sh", "y.sh")} >= 0.3
              |ORDER BY source, a, b""".stripMargin)),

    // Character-level fuzzy dedup: exact Levenshtein edit RATE over the
    // same MinHash-LSH candidates the shingle methods use. Token-set
    // Jaccard is blind to character-level corruption (OCR noise, typo
    // farms, template fills) because one flipped char destroys the whole
    // token; edit distance sees it. Cost control at scale is structural:
    // (a) candidates are verified inside their band bucket, never
    // all-pairs; (b) the O(len²) DP runs on a 256-char prefix (bounded
    // constant work per pair, and a prefix edit is a lower bound on the
    // full-doc edit for same-prefix-length docs); (c) rate = dist × 1000
    // div max(len) in exact integer permille — both operands
    // non-negative, so the one engine-divergent division (negative
    // truncation) cannot occur. Lengths and distances are in code points
    // (UTF8String numChars / levenshteinDistance — what Spark's length
    // and levenshtein evaluate).
    "dedup_edit_distance" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val base = tbl(s, d, "documents")
          .select(col("source"), col("doc_id"),
            substring(col("text"), 1, 256).as("pfx"),
            shingles3(tokHashesSeq(col("text"))).as("sh"))
          .filter(size(col("sh")) > 0)
        // Window = the exact length-gap prune (r12): edit distance is ≥
        // the gap and d*1000 div L is monotone in d, so a pair whose GAP
        // rate already floor-divides past 200 cannot pass — and with
        // members sorted by length the gap rate only grows along the
        // inner loop. It uses THE SAME floor-div as the final test (exact
        // arithmetic would drop true rates in (200, 201) permille that
        // floor to 200 and belong in the result).
        verifyInBucket("dedup_edit_distance", base, col("source"), col("sh"),
            length(col("pfx")), lit(null).cast("array<bigint>"), col("pfx"),
            window = (na, nb) => nb == 0L || (nb - na) * 1000L / nb <= 200L) { (x, y) =>
          val a = if (x.id < y.id) x else y
          val b = if (x.id < y.id) y else x
          // Banded DP: only distances ≤ 51 (= floor(0.200 * 256), the
          // loosest bound any 256-char prefix pair can pass) can survive
          // the rate test, so the threshold form computes O(51 * len)
          // cells and returns -1 past the band — such a pair has
          // dist > 51 ≥ 200 permille of max(len), so dropping it is exact.
          val dist = UTF8String.fromString(a.pfx).levenshteinDistance(UTF8String.fromString(b.pfx), 51)
          val rate = dist * 1000L / math.max(a.n, b.n)
          if (dist < 0 || rate > 200L) None
          else Some((a.scope, a.id, b.id, dist.toLong, rate))
        }.toDF("source", "a", "b", "edit_dist", "edit_rate_milli").orderBy("source", "a", "b")
      },
      Some(s"""WITH base AS (SELECT source, doc_id, substring(text, 1, 256) AS pfx,
              |    ${shingles3Sql(tokHashesSeqSql("text"))} AS sh FROM documents),
              |nonempty AS (SELECT * FROM base WHERE len(sh) > 0),
              |${bandOracleSql("nonempty", "sh", Seq("source", "doc_id", "pfx"))}
              |SELECT DISTINCT x.source AS source, x.doc_id AS a, y.doc_id AS b,
              |  CAST(levenshtein(x.pfx, y.pfx) AS BIGINT) AS edit_dist,
              |  CAST(divide(levenshtein(x.pfx, y.pfx) * 1000,
              |       greatest(length(x.pfx), length(y.pfx))) AS BIGINT) AS edit_rate_milli
              |FROM banded x JOIN banded y
              |  ON x.source = y.source AND x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
              |WHERE divide(levenshtein(x.pfx, y.pfx) * 1000,
              |      greatest(length(x.pfx), length(y.pfx))) <= 200
              |ORDER BY source, a, b""".stripMargin),
      doc = "Levenshtein edit-rate dedup over LSH candidates: the character-level " +
        "near-dup signal token-set Jaccard cannot see; 256-char prefix bounds the DP"),

    // Asymmetric shingle CONTAINMENT among the same LSH candidates:
    // c(a→b) = |A∩B| / |A| catches partial duplication — a short doc
    // quoted/embedded inside a longer one — which symmetric Jaccard
    // under-scores (the union grows with the longer doc). Exact integer
    // permille per direction; like every LSH method here, candidate
    // generation (MinHash band collision) is part of the declared
    // semantics — containment-heavy pairs with tiny Jaccard may not
    // collide, which a dedicated containment sketch would fix at the cost
    // of a second index. No size window: a short doc inside a long one
    // has containment 1 at any size gap.
    "dedup_containment" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val base = tbl(s, d, "documents")
          .select(col("source"), col("doc_id"), shingles3(tokHashesSeq(col("text"))).as("sh"))
          .filter(size(col("sh")) > 0)
        verifyInBucket("dedup_containment", base, col("source"), col("sh"),
            size(col("sh")), sort_array(col("sh"))) { (x, y) =>
          val a = if (x.id < y.id) x else y
          val b = if (x.id < y.id) y else x
          val inter = intersectCount(a.tks, b.tks)
          val (ab, ba) = (inter * 1000L / a.n, inter * 1000L / b.n)
          if (math.max(ab, ba) < 600L) None
          else Some((a.scope, a.id, b.id, inter, a.n, b.n, ab, ba))
        }.toDF("source", "a", "b", "inter", "na", "nb", "cont_ab_milli", "cont_ba_milli")
          .orderBy("source", "a", "b")
      },
      Some(s"""WITH base AS (SELECT source, doc_id, ${shingles3Sql(tokHashesSeqSql("text"))} AS sh FROM documents),
              |nonempty AS (SELECT * FROM base WHERE len(sh) > 0),
              |${bandOracleSql("nonempty", "sh", Seq("source", "doc_id", "sh"))},
              |cand AS (SELECT DISTINCT x.source AS source, x.doc_id AS a, y.doc_id AS b,
              |    CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter,
              |    CAST(len(x.sh) AS BIGINT) AS na, CAST(len(y.sh) AS BIGINT) AS nb
              |  FROM banded x JOIN banded y
              |    ON x.source = y.source AND x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
              |SELECT source, a, b, inter, na, nb,
              |  divide(inter * 1000, na) AS cont_ab_milli,
              |  divide(inter * 1000, nb) AS cont_ba_milli
              |FROM cand
              |WHERE greatest(divide(inter * 1000, na), divide(inter * 1000, nb)) >= 600
              |ORDER BY source, a, b""".stripMargin),
      doc = "asymmetric shingle containment (partial-dup / quote detection) over LSH candidates"),

    // Containment with a DEDICATED index — prefix-filtered, EXACT recall.
    // The MinHash-banded variant above inherits Jaccard-banding recall: a
    // short doc quoted inside a long one has high containment but tiny
    // Jaccard, so its bands rarely collide (ContainmentSpec plants such a
    // pair and shows the bands miss it). The prefix filter has no such
    // gap: if max-direction containment >= 600 permille, the SHORTER
    // side's |2n/5|+1 first shingles (in any fixed global order) must
    // intersect the other doc's set — pigeonhole, so candidate recall is
    // exactly 1 and the oracle is the PLAIN all-pairs containment SQL.
    "dedup_containment_exact" -> QueryDef(
      (s, d) => containmentExact(tbl(s, d, "documents")),
      Some {
        s"""WITH base AS (SELECT source, doc_id, ${shingles3Sql(tokHashesSeqSql("text"))} AS sh FROM documents),
           |nonempty AS (SELECT * FROM base WHERE len(sh) > 0),
           |cand AS (SELECT x.source AS source, x.doc_id AS a, y.doc_id AS b,
           |    CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter,
           |    CAST(len(x.sh) AS BIGINT) AS na, CAST(len(y.sh) AS BIGINT) AS nb
           |  FROM nonempty x JOIN nonempty y
           |    ON x.source = y.source AND x.doc_id < y.doc_id)
           |SELECT source, a, b, inter, na, nb,
           |  divide(inter * 1000, na) AS cont_ab_milli,
           |  divide(inter * 1000, nb) AS cont_ba_milli
           |FROM cand
           |WHERE greatest(divide(inter * 1000, na), divide(inter * 1000, nb)) >= 600
           |ORDER BY source, a, b""".stripMargin
      },
      doc = "EXACT-recall containment via prefix-filtered inverted shingle index; " +
        "oracle is the plain all-pairs containment (no banding in the semantics)"),

    // Cross-corpus near-dup join: find documents of corpus B (stand-in:
    // odd doc_ids — "the new crawl") that near-duplicate documents of
    // corpus A (even doc_ids — "the existing training set"). THE batch
    // curation question at 100 TB: before folding a crawl in, which of
    // its documents already exist? Same LSH band machinery as
    // dedup_minhash_lsh but ASYMMETRIC: bands of both corpora equi-join
    // on (band, bkey), so the shuffle carries band keys — never an
    // all-pairs compare across corpora — and each side scales
    // independently (index A once, probe with every new B — the batch
    // analog of incrementalNearDup's persistent index).
    "dedup_cross_corpus" -> QueryDef(
      (s, d) => {
        import s.implicits._
        // In-bucket verification ([[verifyInBucket]]): one tokenize pass,
        // one posting-table shuffle on (band, bkey) — 4 rows/doc — and
        // each bucket task verifies its A×B members in place with the
        // exact integer size window + sorted-merge intersect, once per
        // candidate pair (first colliding band), with JaccardSim's
        // HALF_UP rounding. No pair list, distinct or attach join.
        // Java remainder like Spark's %: a negative doc_id is in NEITHER
        // corpus (doc_id % 2 = -1), exactly as the oracle's parity test.
        val docs = tbl(s, d, "documents").select(col("doc_id"), tokHashes(col("text")).as("tk"))
        verifyInBucket("dedup_cross_corpus", docs, lit(""), col("tk"), size(col("tk")),
            sort_array(col("tk")), window = jaccardWindow(8000)) { (x, y) =>
          val px = x.id % 2L
          val py = y.id % 2L
          if (!((px == 0L && py == 1L) || (px == 1L && py == 0L))) None
          else {
            val j4 = jaccard4(x, y)
            if (j4 < 8000L) None
            else if (px == 0L) Some((x.id, y.id, j4 / 10000.0))
            else Some((y.id, x.id, j4 / 10000.0))
          }
        }.toDF("a", "b", "jaccard").orderBy("a", "b")
      },
      Some(s"""WITH t AS (SELECT doc_id, ${tokHashesSql("text")} AS tk FROM documents),
              |${bandOracleSql("t", "tk", Seq("doc_id"))},
              |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              |  FROM banded x JOIN banded y
              |    ON x.band = y.band AND x.bkey = y.bkey
              |   AND x.doc_id % 2 = 0 AND y.doc_id % 2 = 1)
              |SELECT a, b, jaccard FROM (
              |  SELECT c.a, c.b, ${jaccardSql("x.tk", "y.tk")} AS jaccard
              |  FROM cand c JOIN t x ON x.doc_id = c.a JOIN t y ON y.doc_id = c.b)
              |WHERE jaccard >= 0.8 ORDER BY a, b""".stripMargin),
      doc = "asymmetric cross-corpus near-dup join (new crawl vs training set) " +
        "via the LSH band equi-join — never all-pairs across corpora"),

    // Transitive near-dup clustering: connected components over the
    // similarity graph (edges = within-source hashed-token Jaccard >= 0.8
    // among MinHash-band collisions — the same LSH candidate generation as
    // dedup_minhash_lsh, so edge discovery is O(collisions) not O(n²))
    // via min-label propagation — each doc's cluster is the smallest
    // doc_id it can reach. Pure DataFrame iteration (one join + groupBy-min
    // per round, O(diameter) rounds; near-dup components are clique-ish so
    // this converges in 2-3); lineage truncated and freed per round.
    // The oracle runs the identical prefilter + a recursive CTE closure.
    // TWO registered entries split the cost the way production does:
    // `dedup_cluster` is the SERVING read of the cluster-once memoized
    // table ([[clustersTable]] — what every consumer probes, and the
    // stable warm figure the bench should report), while
    // `dedup_cluster_build` is the LIVE iterative label propagation (the
    // cold write-path cost, measured explicitly under its own name with
    // extra bench repeats — iterative job chains carry the most host
    // variance). Both carry the SAME oracle, so the driver gate verifies
    // the live algorithm AND the materialized table it serves.
    "dedup_cluster" -> QueryDef(
      (s, d) => clustersTable(s, d).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $clusterCteSql
              |SELECT doc_id, cluster FROM clusters ORDER BY doc_id""".stripMargin),
      doc = "connected components served from the cluster-once table; " +
        "WITH RECURSIVE oracle"),

    "dedup_cluster_build" -> QueryDef(
      (s, d) => clusterDocs(tbl(s, d, "documents")),
      Some(s"""WITH RECURSIVE $clusterCteSql
              |SELECT doc_id, cluster FROM clusters ORDER BY doc_id""".stripMargin),
      doc = "the live LSH-edge label-propagation build behind dedup_cluster; " +
        "WITH RECURSIVE oracle"),

    // Leakage-safe train/val/test split: the unit of assignment is the
    // near-dup CLUSTER, not the document — two near-duplicates must never
    // straddle the train/eval boundary or the eval set silently leaks
    // training data (the canonical contamination bug de-dup exists to
    // prevent). Split = affine hash of the cluster id mod 100 →
    // 80/10/10; deterministic, no RNG, stable as the corpus grows within
    // a cluster.
    "sample_split" -> QueryDef(
      (s, d) => splitFromClusters(clustersTable(s, d)),
      Some(s"""WITH RECURSIVE $clusterCteSql
              |SELECT doc_id, cluster,
              |  (((cluster % 1000003) * 104729 + 12345) % 1000003) % 100 AS split_h,
              |  CASE WHEN (((cluster % 1000003) * 104729 + 12345) % 1000003) % 100 < 80 THEN 'train'
              |       WHEN (((cluster % 1000003) * 104729 + 12345) % 1000003) % 100 < 90 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM clusters ORDER BY doc_id""".stripMargin),
      doc = "cluster-aware 80/10/10 split: near-dups never straddle train/eval"),

    // Quality-aware canonical selection: within each near-dup cluster,
    // keep the BEST member, not the first — dropping by arrival order
    // (dedup_exact / q15 keep-first) throws away the longest/cleanest
    // copy whenever a truncated paste arrived earlier, the classic
    // curation regression near-dup dedup is supposed to prevent. "Best"
    // is the lexicographic integer key (distinct-token count DESC, char
    // length DESC, doc_id ASC): richest vocabulary first, all-integer
    // and totally ordered, so the canonical pick is deterministic in
    // both engines — no float-score or max_by tie lottery. Emits the
    // full remap table (every member → its kept canonical), which is
    // exactly what a downstream attribution/citation join consumes.
    // Scale shape: clusters served from the cluster-once table, one
    // stats scan, one doc_id equi-join, and a window PARTITIONED by
    // cluster (near-dup clusters are small by construction).
    "dedup_keep_best" -> QueryDef(
      (s, d) => {
        val t = split(col("text"), " ")
        val stats = tbl(s, d, "documents").select(col("doc_id"),
          size(array_distinct(t)).cast("long").as("n_dist"),
          length(col("text")).cast("long").as("n_chars_c"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
          .orderBy(col("n_dist").desc, col("n_chars_c").desc, col("doc_id").asc)
        clustersTable(s, d).join(stats, Seq("doc_id"))
          .withColumn("kept_doc_id", first(col("doc_id")).over(w))
          .withColumn("is_kept", col("doc_id") === col("kept_doc_id"))
          .select(col("doc_id"), col("cluster"), col("n_dist"),
            col("n_chars_c"), col("kept_doc_id"), col("is_kept"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $clusterCteSql,
              |stats AS (SELECT doc_id,
              |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dist,
              |    CAST(length(text) AS BIGINT) AS n_chars_c
              |  FROM documents),
              |m AS (SELECT c.doc_id, c.cluster, s.n_dist, s.n_chars_c
              |  FROM clusters c JOIN stats s ON s.doc_id = c.doc_id),
              |k AS (SELECT doc_id, cluster, n_dist, n_chars_c,
              |    first_value(doc_id) OVER (PARTITION BY cluster
              |      ORDER BY n_dist DESC, n_chars_c DESC, doc_id ASC) AS kept_doc_id
              |  FROM m)
              |SELECT doc_id, cluster, n_dist, n_chars_c, kept_doc_id,
              |  doc_id = kept_doc_id AS is_kept
              |FROM k ORDER BY doc_id""".stripMargin),
      doc = "quality-aware canonical selection per near-dup cluster: " +
        "keep the richest-vocabulary member via a deterministic " +
        "all-integer lexicographic order; emits the member->canonical " +
        "remap table"),

    // Dedup savings report: what near-dup dedup actually BUYS per
    // source — docs and whitespace tokens before vs after cluster
    // keep-first (the representative IS the cluster label: min doc_id
    // of the component), with the saved share in exact ppm. The number
    // a curation run quotes ("dedup cut source X by 34%") and the
    // regression canary when an upstream crawler starts duplicating.
    // Scale shape: one stats scan, one doc_id equi-join against the
    // cluster-once table, one per-source hash agg — bounded output.
    "dedup_savings" -> QueryDef(
      (s, d) => {
        val stats = tbl(s, d, "documents").select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        clustersTable(s, d).join(stats, Seq("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") === col("cluster"), 1L).otherwise(0L)).as("n_kept"),
            sum(col("n_tok")).as("tok_total"),
            sum(when(col("doc_id") === col("cluster"), col("n_tok"))
              .otherwise(0L)).as("tok_kept"))
          .withColumn("saved_ppm",
            expr("(tok_total - tok_kept) * 1000000 div tok_total"))
          .select(col("source"), col("n_docs"), col("n_kept"),
            col("tok_total"), col("tok_kept"), col("saved_ppm"))
          .orderBy("source")
      },
      Some(s"""WITH RECURSIVE $clusterCteSql,
              |stats AS (SELECT doc_id, source,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              |  FROM documents),
              |m AS (SELECT c.doc_id, c.cluster, s.source, s.n_tok
              |  FROM clusters c JOIN stats s ON s.doc_id = c.doc_id)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(CASE WHEN doc_id = cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |  CAST(sum(n_tok) AS BIGINT) AS tok_total,
              |  CAST(sum(CASE WHEN doc_id = cluster THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept,
              |  CAST(divide((sum(n_tok) - sum(CASE WHEN doc_id = cluster THEN n_tok ELSE 0 END)) * 1000000,
              |    sum(n_tok)) AS BIGINT) AS saved_ppm
              |FROM m GROUP BY source ORDER BY source""".stripMargin),
      doc = "per-source dedup savings: docs/tokens before vs after " +
        "cluster keep-first, saved share in exact ppm — the curation " +
        "run's headline number and duplication-regression canary"),

    // Token-distribution distortion of the dedup keep decision:
    // dedup_savings counts what dedup REMOVES; this measures what it
    // CHANGES — per vocabulary token, the unigram frequency share
    // before vs after keep-first, in exact ppm with a signed exact
    // delta. Duplicated boilerplate inflates its tokens' shares in the
    // raw corpus; the deduped distribution is what the LM actually
    // trains on, so a large |delta| on a content token is the signal
    // that dedup is reshaping the corpus, not just shrinking it
    // (Lee et al. 2022's motivation, made measurable). Plan: the kept
    // set comes from the materialized cluster table (the memo every
    // dedup consumer reads); two vocab-bounded rollups + a full-outer
    // token join + two 1-row totals. Delta is a SUBTRACTION of two
    // already-truncated integers — exact, no signed division.
    "text_dedup_distortion" -> QueryDef(
      (s, d) => {
        val toks = tbl(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        val kept = clustersTable(s, d)
          .filter(col("doc_id") === col("cluster")).select("doc_id")
        val full = toks.groupBy("token").agg(count(lit(1)).as("n_full"))
        val kc = toks.join(kept, Seq("doc_id"), "left_semi")
          .groupBy("token").agg(count(lit(1)).as("n_kept"))
        val tot = full.agg(sum(col("n_full")).as("t_full"))
          .crossJoin(kc.agg(sum(col("n_kept")).as("t_kept")))
        full.join(kc, Seq("token"), "full_outer")
          .withColumn("n_full", coalesce(col("n_full"), lit(0L)))
          .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
          .crossJoin(broadcast(tot))
          .withColumn("share_full_ppm", expr("n_full * 1000000 div t_full"))
          .withColumn("share_kept_ppm", expr("n_kept * 1000000 div t_kept"))
          .withColumn("delta_ppm", col("share_kept_ppm") - col("share_full_ppm"))
          .select(col("token"), col("n_full"), col("n_kept"),
            col("share_full_ppm"), col("share_kept_ppm"), col("delta_ppm"))
          .orderBy("token")
      },
      Some(s"""WITH RECURSIVE $clusterCteSql,
              |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              |  FROM documents),
              |kept AS (SELECT doc_id FROM clusters WHERE doc_id = cluster),
              |f AS (SELECT token, CAST(count(*) AS BIGINT) AS n_full
              |      FROM toks GROUP BY 1),
              |k AS (SELECT token, CAST(count(*) AS BIGINT) AS n_kept
              |      FROM toks JOIN kept USING (doc_id) GROUP BY 1),
              |tt AS (SELECT (SELECT CAST(sum(n_full) AS BIGINT) FROM f) AS t_full,
              |              (SELECT CAST(sum(n_kept) AS BIGINT) FROM k) AS t_kept)
              |SELECT coalesce(f.token, k.token) AS token,
              |  CAST(coalesce(n_full, 0) AS BIGINT) AS n_full,
              |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
              |  CAST(divide(coalesce(n_full, 0) * 1000000, t_full) AS BIGINT) AS share_full_ppm,
              |  CAST(divide(coalesce(n_kept, 0) * 1000000, t_kept) AS BIGINT) AS share_kept_ppm,
              |  CAST(divide(coalesce(n_kept, 0) * 1000000, t_kept) AS BIGINT)
              |    - CAST(divide(coalesce(n_full, 0) * 1000000, t_full) AS BIGINT) AS delta_ppm
              |FROM f FULL OUTER JOIN k ON k.token = f.token CROSS JOIN tt
              |ORDER BY token""".stripMargin),
      doc = "per-token unigram share before vs after dedup keep-first: " +
        "exact ppm shares and signed exact delta — measures how dedup " +
        "reshapes the training distribution, not just its size"),

    // Embedding-cosine near-dup: LSH bucket (random-hyperplane, see
    // Similarity.lshBucket) equi-join generates candidates; exact cosine
    // >= 0.4 verifies. Both engines bucket identically, so the oracle runs
    // the same prefilter — and the join is a bucket equi-join at any scale.
    "dedup_embed_cosine" -> QueryDef(
      (s, d) => {
        import Similarity.{dotD, lshBucket, normD}
        val emb = tbl(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            lshBucket(col("embedding")).as("bucket"), normD(col("embedding")).as("nrm"))
        val a = emb.select(col("bucket"), col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na"))
        val b = emb.select(col("bucket"), col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb"))
        a.join(b, Seq("bucket"))
          .filter(col("a") < col("b"))
          .select(col("bucket"), col("a"), col("b"),
            (dotD(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
          .filter(col("cosine") >= 0.4)
          .orderBy("bucket", "a", "b")
      },
      Some {
        import Similarity.{dotSql, lshBucketSql, normSql}
        s"""WITH e AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket,
           |    ${normSql("embedding")} AS nrm FROM embeddings)
           |SELECT bucket, a, b, cosine FROM (
           |  SELECT x.bucket AS bucket, x.vec_id AS a, y.vec_id AS b,
           |    ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cosine
           |  FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
           |WHERE cosine >= 0.4 ORDER BY bucket, a, b""".stripMargin
      }),

    // Exact repeated-passage detection — the fixed-window approximation
    // of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better"): every 16-token
    // window's rolling hash, grouped corpus-wide; a window appearing in
    // >= 2 DISTINCT documents is a verbatim cross-document passage (the
    // licensing-boilerplate / syndicated-article signal document-level
    // near-dup misses when the rest of the docs differ). A true suffix
    // array finds variable-length repeats but is inherently sequential;
    // fixed windows keep it one explode + one hash aggregation — any
    // repeat of >= 16 tokens necessarily contains a repeated window, so
    // recall at passage scale is exact. Window hashes are 8-byte keys:
    // the shuffle never carries text. Hashing is mod [[Qh.WinHashP]]
    // (~2^58): precision is collision-bounded at ~2e-5 false positives
    // on a 10^13-window corpus (see the constant's doc) — the ~20-bit
    // HashP this replaced was collision-DOMINATED at that scale.
    "dedup_substring" -> QueryDef(
      (s, d) =>
        // r14: repartition by win_hash FIRST — the countDistinct battery
        // then runs both aggregation levels colocated in one stage (the
        // former plan exchanged the window stream twice: once as the
        // (hash, doc) partial grid, once as the per-hash re-aggregation).
        // One exchange of N raw 16-byte rows replaces two of ~N each.
        substringWindows(tbl(s, d, "documents"))
          .select(col("doc_id"), col("win_hash"))
          .repartition(col("win_hash"))
          .groupBy("win_hash")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .filter(col("n_docs") >= 2)
          .orderBy("win_hash"),
      Some(s"""WITH th AS (SELECT doc_id, ${tokHashesSeqSql("text")} AS th FROM documents),
              |w AS (SELECT doc_id,
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_slice(th, i + 1, i + $SubstringWindow)),
              |      (h, x) -> (h*31 + x) % $WinHashP) AS win_hash
              |  FROM (SELECT doc_id, th, unnest(range(0, len(th) - $SubstringWindow + 1)) AS i
              |        FROM th WHERE len(th) >= $SubstringWindow))
              |SELECT win_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
              |  CAST(count(*) AS BIGINT) AS n_occ,
              |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
              |FROM w GROUP BY win_hash HAVING count(DISTINCT doc_id) >= 2
              |ORDER BY win_hash""".stripMargin),
      doc = s"exact cross-document repeated passages: $SubstringWindow-token " +
        "rolling-hash windows grouped corpus-wide (fixed-window suffix-array approximation)"),

    // The REMOVAL half of Lee et al.'s substring dedup: map the repeated
    // windows back to per-document token positions and merge overlapping
    // or touching windows into maximal [start_tok, end_tok) spans — the
    // rows a curation pipeline feeds to [[cutSpans]] to excise the
    // boilerplate instead of dropping whole documents. Island detection
    // over each doc's hit positions: with equal W-token windows, a new
    // span starts exactly when the gap from the previous hit exceeds W;
    // a running sum of the break flags numbers the islands. Exact integer
    // arithmetic end to end; the only shuffles are the corpus-wide
    // win_hash aggregation (8-byte keys) and a doc_id-partitioned window
    // whose per-partition size is bounded by document length.
    "dedup_substring_spans" -> QueryDef(
      (s, d) => substringSpans(tbl(s, d, "documents")),
      Some(s"""WITH th AS (SELECT doc_id, ${tokHashesSeqSql("text")} AS th FROM documents),
              |w AS (SELECT doc_id, i AS pos,
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_slice(th, i + 1, i + $SubstringWindow)),
              |      (h, x) -> (h*31 + x) % $WinHashP) AS win_hash
              |  FROM (SELECT doc_id, th, unnest(range(0, len(th) - $SubstringWindow + 1)) AS i
              |        FROM th WHERE len(th) >= $SubstringWindow)),
              |rep AS (SELECT win_hash FROM w GROUP BY win_hash HAVING count(DISTINCT doc_id) >= 2),
              |hits AS (SELECT doc_id, pos FROM w WHERE win_hash IN (SELECT win_hash FROM rep)),
              |isl AS (SELECT doc_id, pos,
              |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
              |      <= $SubstringWindow THEN 0 ELSE 1 END AS brk FROM hits),
              |grp AS (SELECT doc_id, pos,
              |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl)
              |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok,
              |  CAST(MAX(pos) + $SubstringWindow AS BIGINT) AS end_tok,
              |  CAST(COUNT(*) AS BIGINT) AS n_windows
              |FROM grp GROUP BY doc_id, island ORDER BY doc_id, start_tok""".stripMargin),
      doc = "maximal per-document token spans of cross-document repeated passages " +
        "(the cut list for substring removal)"),

    // The APPLY half of Lee et al.'s substring dedup, oracle-gated end
    // to end: excise the [[substringSpans]] cut list with [[cutSpans]]
    // and prove the REBUILT text — not just the span geometry —
    // identical in both engines via the canonical string hash.
    // n_tok_removed sums the disjoint islands; docs without spans pass
    // through verbatim (hash of the original text — the corpus is
    // single-space tokenized, so the oracle's rejoin is exact).
    // The span list is localCheckpoint'd: bounded by real
    // repeated-passage volume, and it feeds two consumers (the removal
    // sum and the cut itself). Oracle reconstruction: covered positions
    // expand from the spans, kept tokens anti-join them, and an ordered
    // string_agg rebuilds the text — which is why this one text is
    // excluded from the verbatim spark.sql sweep (in-aggregate ORDER BY
    // is a dialect form Spark's parser rejects; SqlSurfaceSpec lists it).
    "dedup_substring_cut" -> QueryDef(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val spans = substringSpans(docs).localCheckpoint()
        val removed = spans.groupBy("doc_id")
          .agg(sum(col("end_tok") - col("start_tok")).as("n_tok_removed"))
        cutSpans(docs, spans)
          .join(removed, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_tok_removed"), lit(0L)).as("n_tok_removed"),
            strHash(col("text")).as("cut_hash"))
          .orderBy("doc_id")
      },
      Some(s"""WITH th AS (SELECT doc_id, ${tokHashesSeqSql("text")} AS th FROM documents),
              |w AS (SELECT doc_id, i AS pos,
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_slice(th, i + 1, i + $SubstringWindow)),
              |      (h, x) -> (h*31 + x) % $WinHashP) AS win_hash
              |  FROM (SELECT doc_id, th, unnest(range(0, len(th) - $SubstringWindow + 1)) AS i
              |        FROM th WHERE len(th) >= $SubstringWindow)),
              |rep AS (SELECT win_hash FROM w GROUP BY win_hash HAVING count(DISTINCT doc_id) >= 2),
              |hits AS (SELECT doc_id, pos FROM w WHERE win_hash IN (SELECT win_hash FROM rep)),
              |isl AS (SELECT doc_id, pos,
              |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
              |      <= $SubstringWindow THEN 0 ELSE 1 END AS brk FROM hits),
              |grp AS (SELECT doc_id, pos,
              |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
              |spans AS (SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok,
              |    CAST(MAX(pos) + $SubstringWindow AS BIGINT) AS end_tok
              |  FROM grp GROUP BY doc_id, island),
              |rem AS (SELECT doc_id, CAST(SUM(end_tok - start_tok) AS BIGINT) AS n_removed
              |  FROM spans GROUP BY doc_id),
              |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(start_tok, end_tok - 1)) AS pos
              |  FROM spans),
              |tok AS (SELECT doc_id, i AS pos, list_extract(tk, i + 1) AS tok
              |  FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS i
              |        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents))),
              |kept AS (SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos) AS cut_text
              |  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
              |  WHERE c.pos IS NULL GROUP BY t.doc_id)
              |SELECT d.doc_id, COALESCE(r.n_removed, CAST(0 AS BIGINT)) AS n_tok_removed,
              |  ${strHashSql("COALESCE(k.cut_text, '')")} AS cut_hash
              |FROM documents d
              |LEFT JOIN rem r ON r.doc_id = d.doc_id
              |LEFT JOIN kept k ON k.doc_id = d.doc_id
              |ORDER BY d.doc_id""".stripMargin),
      doc = "substring-dedup removal applied: per-doc tokens removed and the " +
        "canonical hash of the rebuilt text, proven against the oracle's " +
        "position-level reconstruction"),

    // The capstone: one per-document curation VERDICT table — what a
    // training-data pipeline actually ships downstream. Composes the
    // library's own decisions under a single oracle: exact-dup
    // canonicality (dedup_exact's keep-first), near-dup cluster +
    // leakage-safe split (the memoized cluster table — same closure the
    // sample_split oracle certifies), benchmark contamination
    // (text_contamination's shingle join), Gopher repetition quality
    // (text_repetition's thresholds), and the final keep decision.
    // Every join is doc_id- or shingle-keyed; nothing here adds a new
    // shuffle shape — the point is that the primitives COMPOSE.
    "corpus_manifest" -> QueryDef(
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val fp = docs.select(col("source"), col("doc_id"),
          strHashWide(lower(trim(col("text")))).as("fp"))
        val canon = fp.groupBy("source", "fp").agg(min("doc_id").as("keep_id"))
        val exact = fp.join(canon, Seq("source", "fp"))
          .select(col("doc_id"), (col("doc_id") === col("keep_id")).as("canonical"))
        val clusterSplit = splitFromClusters(clustersTable(s, d))
          .select(col("doc_id"), col("cluster"), col("split"))
        // materialized once (r13 optimization round): bench + contam both
        // re-ran the shingle chain - two corpus passes for one projection
        val sh = docs.select(col("doc_id"), shingles3(tokHashesSeq(col("text"))).as("sh"))
          .localCheckpoint()
        val bench = sh.filter(col("doc_id") % 97 === 0)
          .select(explode(col("sh")).as("g")).distinct()
        val contamIds = sh.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), explode(col("sh")).as("g"))
          .join(bench, Seq("g"), "left_semi")
          .select("doc_id").distinct()
          .withColumn("hit", lit(true))
        // Gopher triple via the map-only TokenProfile codegen expression
        // (r13 optimization round): the explode -> groupBy(doc, token) ->
        // groupBy(doc) spelling shuffles the full (doc, token) pair
        // stream twice; the native profile computes the identical
        // (n_tok, n_dist, top_cnt) in one generated-code pass per row -
        // the exact shape the streaming curate gate already uses
        // (CurateIngestSpec pins gate == manifest verdict; TokenProfileSpec
        // pins the triple against the aggregation form)
        val tokStats = docs
          .select(col("doc_id"),
            graft.plans.TokenProfile.column(split(col("text"), " ")).as("__tp"))
          .select(col("doc_id"), col("__tp").getItem(0).as("n_tok"),
            col("__tp").getItem(1).as("n_dist"), col("__tp").getItem(2).as("top_cnt"))
          .withColumn("quality_keep",
            expr(s"(n_tok - n_dist) * 1000 div n_tok <= $GopherDupMilli" +
              s" AND top_cnt * 1000 div n_tok <= $GopherTopMilli"))
        docs.select(col("doc_id"),
            when(col("doc_id") % 97 === 0, "eval").otherwise("corpus").as("role"))
          .join(exact, Seq("doc_id"))
          .join(clusterSplit, Seq("doc_id"))
          .join(tokStats.select("doc_id", "n_tok", "quality_keep"), Seq("doc_id"))
          .join(contamIds, Seq("doc_id"), "left_outer")
          .withColumn("contaminated", coalesce(col("hit"), lit(false)))
          .withColumn("keep", col("canonical") && col("quality_keep") &&
            !col("contaminated") && col("role") === "corpus")
          .select(col("doc_id"), col("role"), col("canonical"), col("cluster"),
            col("split"), col("n_tok"), col("quality_keep"), col("contaminated"), col("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $clusterCteSql,
              |fp AS (SELECT source, doc_id, ${strHashWideSql("lower(trim(text))")} AS fp FROM documents),
              |canon AS (SELECT source, fp, MIN(doc_id) AS keep_id FROM fp GROUP BY source, fp),
              |exact AS (SELECT fp.doc_id, (fp.doc_id = canon.keep_id) AS canonical
              |          FROM fp JOIN canon ON fp.source = canon.source AND fp.fp = canon.fp),
              |sh AS (SELECT doc_id, ${shingles3Sql(tokHashesSeqSql("text"))} AS sh FROM documents),
              |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
              |contam AS (SELECT DISTINCT c.doc_id
              |  FROM (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 97 <> 0) c
              |  JOIN bench USING (g)),
              |cnts AS (SELECT doc_id, token, count(*) cnt
              |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
              |  GROUP BY doc_id, token),
              |tst AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) n_tok,
              |    CAST(count(*) AS BIGINT) n_dist, CAST(max(cnt) AS BIGINT) top_cnt
              |  FROM cnts GROUP BY doc_id)
              |SELECT d.doc_id,
              |  CASE WHEN d.doc_id % 97 = 0 THEN 'eval' ELSE 'corpus' END AS role,
              |  e.canonical AS canonical,
              |  CAST(cl.cluster AS BIGINT) AS cluster,
              |  CASE WHEN (((cl.cluster % 1000003) * 104729 + 12345) % 1000003) % 100 < 80 THEN 'train'
              |       WHEN (((cl.cluster % 1000003) * 104729 + 12345) % 1000003) % 100 < 90 THEN 'val'
              |       ELSE 'test' END AS split,
              |  t.n_tok AS n_tok,
              |  (divide((t.n_tok - t.n_dist) * 1000, t.n_tok) <= $GopherDupMilli
              |    AND divide(t.top_cnt * 1000, t.n_tok) <= $GopherTopMilli) AS quality_keep,
              |  (contam.doc_id IS NOT NULL) AS contaminated,
              |  (e.canonical
              |    AND (divide((t.n_tok - t.n_dist) * 1000, t.n_tok) <= $GopherDupMilli
              |         AND divide(t.top_cnt * 1000, t.n_tok) <= $GopherTopMilli)
              |    AND contam.doc_id IS NULL AND d.doc_id % 97 <> 0) AS keep
              |FROM documents d
              |JOIN exact e ON e.doc_id = d.doc_id
              |JOIN clusters cl ON cl.doc_id = d.doc_id
              |JOIN tst t ON t.doc_id = d.doc_id
              |LEFT JOIN contam ON contam.doc_id = d.doc_id
              |ORDER BY d.doc_id""".stripMargin),
      doc = "per-document curation verdict: exact canonicality + near-dup " +
        "cluster/split + contamination + repetition quality + final keep — " +
        "the library's primitives composed under one oracle"),

    // Dedup-quality evaluation — DOC-LEVEL recall of a source-scoped
    // MinHash-LSH keep-first rule against exact ground truth (the dedup
    // twin of sim_ann_recall; "measure, don't guess" applied to the
    // decision a curation pipeline actually trusts). The evaluated
    // DECISION is "drop doc b": pair-level counting would punish the
    // bucket-min candidate form for pairs keep-first semantics never
    // needs. Truth: b should drop iff some EARLIER same-source doc has
    // token-Jaccard ≥ 0.7 with it — measured over a FIXED deterministic
    // [[EvalPanelSize]]-doc panel ([[evalPanel]]), so the truth side is
    // panel × corpus: linear at any scale, a uniform-sample unbiased
    // estimate of the full recall (source scoping matches exact dedup /
    // corpus_manifest's canonicalization). DedupEvalSpec proves the
    // panel truth ≡ the exact all-pairs truth restricted to the panel.
    // Prediction: per-source band buckets → bucket-min edge → exact
    // verify ≥ 0.7 → drop, restricted to panel members (a doc's drop
    // verdict depends only on its own candidates, so the restriction
    // is exact, not approximate). Every predicted drop carries a
    // verified pair witness (precision 1), so the measurement is
    // per-source recall; misses = earlier-dup docs whose banding never
    // collides, or whose bucket-min verification fails though a
    // DIFFERENT earlier dup exists — the rule's real blind spots.
    "dedup_eval_recall" -> QueryDef(
      (s, d) => {
        val base = tbl(s, d, "documents").select(col("doc_id"), col("source"),
            toks(col("text")).as("tk"), tokHashes(col("text")).as("th"))
          .localCheckpoint()
        val panel = evalPanel(base).localCheckpoint()
        val truthDrop = evalTruthDrop(base, panel)
        val sig = base.withColumn("mhs", minhashSig(col("th")))
        val cand = bucketMinPairs(bandExplode(sig, "mhs", Seq("doc_id", "source")), Seq("source"))
        val predDrop = cand.join(panel.select("doc_id"), Seq("doc_id"), "left_semi")
          .join(base.select(col("doc_id"), col("tk").as("ta")), Seq("doc_id"))
          .join(base.select(col("doc_id").as("min_id"), col("tk").as("tb")), Seq("min_id"))
          .filter(jaccard(col("ta"), col("tb")) >= 0.7)
          .select(col("source"), col("doc_id").as("b")).distinct()
        truthDrop
          .join(predDrop.withColumn("hit", lit(1L)), Seq("source", "b"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_should_drop"),
            coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
          .withColumn("recall_ppm", expr("n_hit * 1000000 div n_should_drop"))
          .orderBy("source")
      },
      Some {
        s"""WITH base AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS tk,
           |    ${tokHashesSql("text")} AS th FROM documents),
           |panel AS (SELECT doc_id, source, tk FROM base
           |          ORDER BY ${strHashWideSql("CAST(doc_id AS STRING)")}, doc_id
           |          LIMIT $EvalPanelSize),
           |truth AS (SELECT DISTINCT p.source, p.doc_id AS b
           |          FROM panel p JOIN base x ON x.source = p.source AND x.doc_id < p.doc_id
           |          WHERE ${jaccardSql("x.tk", "p.tk")} >= 0.7),
           |${bandOracleSql("base", "th", Seq("doc_id", "source"))},
           |${bucketMinSql(Seq("source"))},
           |pred AS (SELECT DISTINCT c.source, c.doc_id AS b
           |         FROM cand c
           |         JOIN base x ON x.doc_id = c.doc_id
           |         JOIN base y ON y.doc_id = c.min_id
           |         WHERE c.doc_id IN (SELECT doc_id FROM panel)
           |           AND ${jaccardSql("x.tk", "y.tk")} >= 0.7)
           |SELECT truth.source, CAST(count(*) AS BIGINT) AS n_should_drop,
           |  CAST(coalesce(sum(CASE WHEN pred.b IS NOT NULL THEN 1 END), 0)
           |    AS BIGINT) AS n_hit,
           |  CAST(divide(coalesce(sum(CASE WHEN pred.b IS NOT NULL THEN 1 END), 0)
           |    * 1000000, count(*)) AS BIGINT) AS recall_ppm
           |FROM truth LEFT JOIN pred ON pred.source = truth.source AND pred.b = truth.b
           |GROUP BY truth.source ORDER BY truth.source""".stripMargin
      },
      doc = "doc-level recall of the source-scoped MinHash-LSH keep-first " +
        "decision vs ground truth over a fixed 256-doc deterministic " +
        "panel: per-source exact integer n_should_drop/n_hit/" +
        "recall_ppm — the dedup twin of sim_ann_recall")
  )

  // ------------------------------------------------------------------
  // Substring dedup: repeated-window detection, span extraction, removal
  // ------------------------------------------------------------------

  /** Every [[SubstringWindow]]-token window of every document as
    * (doc_id, pos, win_hash): pos is the 0-based start token index and
    * win_hash the window's rolling hash mod [[graft.Qh.WinHashP]]
    * (~2^58 — see the constant for the exact cross-engine-arithmetic
    * rationale and the collision bound). Shared scan for dedup_substring
    * (corpus-wide hash aggregation) and [[substringSpans]] (position
    * mapping); the downstream shuffles carry only 8-byte hashes and
    * integer positions, never text. */
  def substringWindows(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = SubstringWindow
    val th = tokHashesSeq(col("text"))
    docs.select(col("doc_id"), th.as("th"))
      .filter(size(col("th")) >= w)
      .select(col("doc_id"), col("th"),
        posexplode(sequence(lit(0), size(col("th")) - w, lit(1))))
      .select(col("doc_id"), col("col").as("pos"),
        aggregate(slice(col("th"), col("col") + 1, lit(w)),
          lit(0L), (h, x) => pmod(h * 31 + x, lit(WinHashP))).as("win_hash"))
  }

  /** Maximal per-document token spans of cross-document repeated
    * passages: (doc_id, start_tok, end_tok, n_windows), end exclusive —
    * the cut list [[cutSpans]] applies (Lee et al. 2022 remove the
    * repeated spans; dedup_substring only DETECTS them). Windows whose
    * hash occurs in >= 2 distinct docs map back to positions; per doc,
    * overlapping-or-touching windows (gap <= window length) merge via
    * island numbering — a lag-based break flag and its running sum, two
    * analytic functions over one doc_id-partitioned sort whose partition
    * size is bounded by document length. */
  def substringSpans(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = SubstringWindow
    // localCheckpoint (eager), not persist/unpersist: the window scan
    // feeds TWO subtrees of one plan (the repeated-hash aggregation and
    // the position join), and a lazy persist unpersisted before the
    // action never takes effect — the scan would run twice. Checkpoint
    // storage is distributed (executor-local), O(windows) rows of 8-byte
    // hashes + positions, never text.
    val wins = substringWindows(docs).localCheckpoint()
    // r14: the cut list only needs "appears in ≥ 2 DISTINCT docs", and
    // min(doc) ≠ max(doc) decides that in a SINGLE-level codegen
    // aggregate — the former countDistinct planned a two-level distinct
    // rewrite (an extra full exchange of the (hash, doc) grid).
    val repeated = wins.groupBy("win_hash")
      .agg(min(col("doc_id")).as("__d0"), max(col("doc_id")).as("__d1"))
      .filter(col("__d0") =!= col("__d1")).select("win_hash")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    wins.join(repeated, Seq("win_hash"), "left_semi")
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= w, 0).otherwise(1))
      .withColumn("island", sum("brk").over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).cast("long").as("start_tok"),
        (max(col("pos")) + w).cast("long").as("end_tok"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "start_tok", "end_tok", "n_windows")
      .orderBy("doc_id", "start_tok")
  }

  /** Apply a span cut list ([[substringSpans]] schema) to the corpus:
    * tokens at positions [start_tok, end_tok) are removed and the
    * remainder re-joined — documents keep their unique prose and lose
    * only the repeated passage, the operation that (per Lee et al.)
    * beats whole-document dropping on perplexity. Spans arrive grouped
    * per doc (collect_list after a doc_id shuffle — bounded by spans per
    * document, never corpus-sized) and the filter itself is a
    * higher-order function over the token array: no explode, no second
    * shuffle over tokens. Docs without spans pass through verbatim via
    * the left join. */
  def cutSpans(docs: org.apache.spark.sql.DataFrame,
      spans: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sp = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("start_tok").as("s"), col("end_tok").as("e"))).as("spans"))
    docs.join(sp, Seq("doc_id"), "left")
      .withColumn("text",
        when(col("spans").isNull, col("text")).otherwise(
          array_join(
            filter(split(col("text"), " "), (t, i) =>
              !exists(col("spans"), sr => i >= sr("s") && i < sr("e"))),
            " ")))
      .drop("spans")
  }

  /** Shared oracle fragment: the full LSH-candidate + Jaccard-edge +
    * recursive-closure clustering as a CTE list ending in
    * `clusters(doc_id, cluster)` — prefix with `WITH RECURSIVE`. Used by
    * the dedup_cluster and sample_split oracles so both grade against
    * the identical closure. */
  private def clusterCteSql: String =
    s"""t AS (SELECT source, doc_id, ${tokHashesSql("text")} AS tk FROM documents),
       |${bandOracleSql("t", "tk", Seq("source", "doc_id"))},
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM banded x JOIN banded y
       |    ON x.source = y.source AND x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |pairs AS (
       |  SELECT c.a, c.b FROM cand c
       |  JOIN t x ON x.doc_id = c.a JOIN t y ON y.doc_id = c.b
       |  WHERE ${jaccardSql("x.tk", "y.tk")} >= 0.8),
       |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |clusters AS (SELECT a AS doc_id, MIN(b) AS cluster FROM reach GROUP BY a)""".stripMargin

  /** Transitive near-dup clustering: connected components over
    * LSH-candidate + Jaccard-verified edges (the dedup_cluster query).
    *
    * `checkpointDir`, when set, switches the per-round materialization
    * from `localCheckpoint` (blocks live on executors; LOST on executor
    * failure, which kills the iterative lineage mid-run) to RELIABLE
    * `df.checkpoint()` into that directory (HDFS/S3 on a real cluster) —
    * a lost executor then recomputes from the checkpoint files instead of
    * failing the job. Local mode keeps the default None: one JVM, nothing
    * to lose, and localCheckpoint skips the write-to-storage round trip. */
  def clusterDocs(raw: org.apache.spark.sql.DataFrame,
      checkpointDir: Option[String] = None): org.apache.spark.sql.DataFrame = {
    checkpointDir.foreach(d => Qh.setReliableCheckpointDir(raw.sparkSession, d))
    val spark = raw.sparkSession
    import spark.implicits._
    def mat(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint(true)
    val docs = raw.select(col("doc_id"), col("source"), tokHashes(col("text")).as("tk"))
    // Exact-duplicate collapse (r13): docs with IDENTICAL distinct-token
    // sets within a source are mutually J=1 edges in ALL band buckets —
    // a clique the propagation would grind through edge-by-edge. Collapse
    // each (source, tk) group to its min-doc_id representative BEFORE
    // candidate generation: group min = the rep, so the component min
    // over reps equals the component min over all docs, and a doc's
    // cluster is its rep's label. Grouping is on the tk ARRAY itself
    // (exact — no digest-collision risk against the oracle). One window
    // shuffle; on a crawl corpus exact dups are the dominant dup class,
    // so this removes the largest cliques before they exist.
    val gw = org.apache.spark.sql.expressions.Window.partitionBy(col("source"), col("tk"))
    // materialized once: both the rep table (feeds banding) and the final
    // membership join read it — without the cut, the scan+tokenize+window
    // lineage would execute twice, a second full corpus pass at scale
    val withRep = mat(docs.withColumn("rep", min(col("doc_id")).over(gw)))
    val membership = withRep.select(col("doc_id"), col("rep"))
    val reps = withRep.filter(col("doc_id") === col("rep"))
      .select(col("source"), col("doc_id"), col("tk"))
    // In-bucket verified spanning forest (r13, the dedup_cluster_build
    // 4th-decade fix): the former shape materialized the band-collision
    // CANDIDATE pair list, ran a corpus-wide distinct over it, then
    // fetched both token sets back via two wide shuffle joins — on a
    // corpus whose ambient similarity makes band collisions ~all-pairs
    // (the synthetic 30-token vocabulary: measured 1.5k/148k/15.3M true
    // edges across three decades, the INPUT GRAPH is Θ(n²)) three
    // shuffles of a Θ(n²) row set. [[verifyInBucket]] in forest mode
    // shuffles only the linear posting table and emits per bucket task a
    // spanning forest of its verified edges — ≤ members−1 rows, each pair
    // decided once — so the propagation input stays linear with the same
    // components. The union-find short-circuit skips the intersect for
    // a pair already connected in its task (most pairs of a clique).
    // J = round(inter/denom, 4) ≥ 0.8 is the integer test jaccard4 ≥ 8000.
    val pairs = verifyInBucket("clusterDocs", reps, col("source"), col("tk"),
        size(col("tk")), sort_array(col("tk")), window = jaccardWindow(8000),
        forest = true) { (x, y) =>
      if (jaccard4(x, y) < 8000L) None else Some((math.min(x.id, y.id), math.max(x.id, y.id)))
    }.toDF("a", "b")
    val labels = propagateMin(pairs, mat)
    membership
      .join(labels.select(col("doc_id").as("rep"), col("label")), Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("rep")).as("cluster"))
      .orderBy("doc_id")
  }

  /** Hybrid component labeling for MICRO-BATCH graphs (the mergeClusters
    * path): a batch's verified near-dup edge set is usually tiny — one
    * checkpoint + count decide, and under [[Qh.LocalGraphCap]] edges
    * (default 65536) the labels come from a
    * driver-side min-root union-find in microseconds instead of ~10
    * Spark jobs of distributed propagation per micro-batch (the r10
    * composed-lane profile: propagateMin was half the merge's job
    * count). Past the cap — a pathological batch, or genuinely huge
    * ingest — it falls through to the same [[propagateMin]] loop, so
    * the 100 TB shape is unchanged. The fallback RE-EXECUTES the edge
    * joins inside propagateMin's own materialization (the bounded probe
    * collects the lazy plan without checkpointing it — deliberately, so
    * the common small-batch path pays one job and no checkpoint; the
    * rare over-cap batch pays the edge computation twice, which is noise
    * next to its own propagation rounds). Labels are IDENTICAL either way: both compute each
    * component's minimum id (union-find attaches the larger root under
    * the smaller; propagation converges to the min) — MergeHybridSpec
    * pins the equivalence with the cap forced to 0. clusterDocs (the
    * corpus-scale builder behind dedup_cluster_build) deliberately does
    * NOT take this path: its graph is the whole corpus and its bench
    * entry is the declared distributed-propagation cost. */
  private def propagateMinHybrid(pairs: org.apache.spark.sql.DataFrame,
      mat: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val cap = Qh.LocalGraphCap.get(spark).toInt
    // The fast path collects the lazy edge plan directly — one job, no
    // checkpoint. Only the (rare) over-cap fallback re-executes the edge
    // joins, inside propagateMin's own materialization.
    Qh.collectIfBounded(pairs.select(col("a"), col("b")), cap,
        "micro-batch near-dup edge graph") match {
      case Some(rows) =>
        val uf = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (uf.getOrDefault(r, r) != r) r = uf.get(r)
          var c = x // path compression
          while (uf.getOrDefault(c, c) != c) { val n = uf.get(c); uf.put(c, r); c = n }
          r
        }
        rows.foreach { e =>
          val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
          if (ra != rb) uf.put(math.max(ra, rb), math.min(ra, rb))
        }
        val nodes = rows.iterator.flatMap(e => Iterator(e.getLong(0), e.getLong(1)))
          .toArray.distinct
        nodes.map(d => (d, find(d))).toSeq.toDF("doc_id", "label")
      case None => propagateMin(pairs.select(col("a"), col("b")), mat)
    }
  }

  /** One LSH posting as [[verifyInBucket]] sees it: doc `id` of `scope`
    * (its source, or "" when the query is unscoped) in bucket (`band`,
    * `bkey`), with its size `n`, its SORTED hash set `tks` (null when the
    * pair rule reads none), its full MinHash signature `mhs` and its text
    * prefix `pfx` (null unless the rule reads it). `uv` and `slice` tag a
    * hot bucket's slice-pair sub-task; both are 0 in a cold bucket. */
  private[graft] case class Posting(scope: String, band: Int, bkey: String, id: Long,
      n: Long, tks: Array[Long], mhs: Array[Long], pfx: String, uv: Int, slice: Int)

  /** The one LSH candidate verifier of the dedup family (dedup_cross_corpus,
    * clusterDocs, dedup_ngram_jaccard, dedup_containment,
    * dedup_edit_distance). `docs` carries `doc_id`; `set` is the hash array
    * the MinHash signature is taken over, `n` the member size the `window`
    * reads, `tks` the sorted duplicate-free set [[intersectCount]] reads
    * and `pfx` the optional text prefix. Each caller supplies only its
    * per-pair `rule`, called with x before y in (n, doc_id) order; `Some`
    * emits.
    *
    * Shape: one posting row per (doc, band), ONE shuffle of that linear
    * table on (scope, band, bkey), and every candidate pair is verified
    * inside its bucket's task — no pair list is ever materialized, so
    * there is no band self-join, no distinct over pairs and no join that
    * fetches the verified arrays back. Inside a task the members are
    * sorted by (n asc, doc_id asc) and the inner loop stops at the first
    * member the `window` rejects: callers pass a window that is monotone
    * in the larger size and false only where the rule must fail.
    *
    * FIRST-BAND UNIQUENESS: a pair is verified only in the first band
    * where it collides — both signatures' band-k halves equal for no
    * k < this bucket's band. Two docs share at most one bucket per band
    * (the band key is a function of the signature halves, and the scope
    * is part of the bucket), so the pair's first colliding band names
    * exactly one bucket, and each pair is decided once in the corpus.
    * Output therefore needs no distinct, and a rule's output rows are
    * globally unique whenever they are unique per pair.
    *
    * HOT-BUCKET SPLIT (guide §2.5): a bucket with more than
    * `spark.graft.dedup.sliceThreshold` members (the ≤ 64 hot keys are a
    * bounded driver-side list; past that the split is skipped) is cut S =
    * `spark.graft.dedup.bucketSlices` ways by pmod(doc_id, S). Each member
    * is copied to the S sub-tasks (min(s, w), max(s, w)): (u, u) verifies
    * within-slice pairs, (u, v ≠ u) only cross-slice pairs, so every
    * unordered pair lands in exactly one sub-task and the quadratic
    * spreads over S(S+1)/2 tasks. Cold buckets run single-task. Every
    * task buffers its members under `spark.graft.dedup.maxBucket`
    * ([[boundedBucket]]).
    *
    * FOREST mode (clusterDocs): a union-find over the task's members
    * skips a pair already connected in the task and links the two ends of
    * each emitted pair, so a task emits a spanning forest of the verified
    * edges it decides (≤ members − 1 rows). Components are unchanged:
    * every verified edge of the corpus is decided in exactly one task
    * (first band, then one slice pair), and in that task it is either
    * emitted or its ends are already joined by emitted edges of the same
    * task. So the union of the per-task forests has the same connected
    * components as the full verified edge set, per bucket and per slice
    * pair alike. */
  private[graft] def verifyInBucket[R: Encoder](who: String, docs: DataFrame, scope: Column,
      set: Column, n: Column, tks: Column, pfx: Column = lit(null).cast("string"),
      window: (Long, Long) => Boolean = (_, _) => true, forest: Boolean = false)(
      rule: (Posting, Posting) => Option[R]): Dataset[R] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val maxBucket = Qh.MaxBucket.get(spark).toInt
    val sliceThreshold = Qh.SliceThreshold.get(spark)
    val s = Qh.BucketSlices.get(spark).toInt
    val sig = docs.select(scope.as("scope"), col("doc_id").as("id"),
        n.cast("long").as("n"), tks.as("tks"), minhashSig(set).as("mhs"), pfx.as("pfx"))
      .filter(col("scope").isNotNull) // a NULL source pairs with nothing
    val posts = bandExplode(sig, "mhs", Seq("scope", "id", "n", "tks", "mhs", "pfx"))
    val hotKeys: Set[(String, Int, String)] = Qh.collectIfBounded(
        posts.groupBy("scope", "band", "bkey").agg(count(lit(1)).as("__c"))
          .filter(col("__c") > sliceThreshold).select("scope", "band", "bkey"),
        64, "dedup hot-bucket key list (skew split, guide §2.5)")
      .map(_.map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet)
      .getOrElse(Set.empty)
    val tasks =
      if (hotKeys.isEmpty) posts.withColumn("uv", lit(0)).withColumn("slice", lit(0))
      else {
        val isHot = hotKeys.toSeq.map { case (sc, b, k) =>
          col("scope") === sc && col("band") === b && col("bkey") === k }.reduce(_ || _)
        val sid = pmod(col("id"), lit(s.toLong)).cast("int")
        posts.withColumn("slice", when(isHot, sid).otherwise(0))
          .withColumn("uv", explode(when(isHot, transform(sequence(lit(0), lit(s - 1)),
            w => least(col("slice"), w) * s + greatest(col("slice"), w))).otherwise(array(lit(0)))))
      }
    tasks.groupBy("scope", "band", "bkey", "uv").as[(String, Int, String, Int), Posting]
      .flatMapGroups { (key, it) =>
        val ms = boundedBucket(key, it, maxBucket, who).sortBy(p => (p.n, p.id))
        val ns = ms.map(_.n)
        val crossSliceOnly = key._4 / s != key._4 % s
        val parent = if (forest) Array.tabulate(ms.length)(identity) else null
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[R]
        var i = 0
        while (i < ms.length) {
          val x = ms(i)
          var j = i + 1
          while (j < ms.length && window(ns(i), ns(j))) {
            val y = ms(j)
            if ((!crossSliceOnly || x.slice != y.slice) &&
                !collidesEarlier(key._2, x.mhs, y.mhs)) {
              if (!forest) rule(x, y).foreach(out += _)
              else {
                val ri = find(i)
                val rj = find(j)
                if (ri != rj) rule(x, y).foreach { r => parent(rj) = ri; out += r }
              }
            }
            j += 1
          }
          i += 1
        }
        out.iterator
      }
  }

  /** True when signatures x and y agree on both rows of some band
    * k < `band` — the pair then belongs to that earlier band's bucket. */
  private def collidesEarlier(band: Int, x: Array[Long], y: Array[Long]): Boolean = {
    var k = 0
    while (k < band) {
      var r = 0
      while (r < RowsPerBand && x(k * RowsPerBand + r) == y(k * RowsPerBand + r)) r += 1
      if (r == RowsPerBand) return true
      k += 1
    }
    false
  }

  /** Jaccard of two postings' sorted sets, HALF_UP-rounded to 4 decimals,
    * in exact integer ten-thousandths — −1 for two empty sets (where
    * [[graft.plans.JaccardSim]] returns NULL). This is JaccardSim's value
    * exactly: `round(J, 4) ≥ t/10⁴` holds iff 20000·inter ≥ (2t−1)·denom,
    * and BigDecimal.valueOf on the IEEE quotient HALF_UP-rounds like the
    * rational unless the double error reaches the rational's distance to
    * a rounding boundary, ≥ 1/(20000·denom) — impossible for denom ≪ 10¹¹
    * (exact .00005 ties have a lowest-terms denominator dividing 20000,
    * and their nearest double renders as the tie itself). So
    * `jaccard4 / 10000.0` is the bit-identical double. */
  private def jaccard4(x: Posting, y: Posting): Long = {
    val inter = intersectCount(x.tks, y.tks)
    val denom = x.n + y.n - inter
    if (denom == 0L) -1L else (20000L * inter + denom) / (2L * denom)
  }

  /** Size window for `jaccard4 ≥ t4`: with na ≤ nb, inter ≤ na and
    * denom ≥ nb, so the rule needs 20000·na ≥ (2·t4 − 1)·nb — exact, and
    * monotone in nb. */
  private def jaccardWindow(t4: Long): (Long, Long) => Boolean =
    (na, nb) => 20000L * na >= (2L * t4 - 1L) * nb

  /** Collect one LSH bucket's members into task memory under a declared
    * cap (r14, VERDICT item 6 / guide §5): the in-bucket verifier buffers
    * every member's full sorted token array in ONE task, so a degenerate
    * bucket (boilerplate-heavy sources sharing a band key) would OOM an
    * executor where the former join-based plans spilled. The cap makes
    * that degradation PREDICTABLE: a bucket past
    * `spark.graft.dedup.maxBucket` members (default 262144 ≈ 200 MB of
    * 100-token sets) fails loudly naming the bucket and the knob, the
    * requireBoundedBaskets discipline. Observed bucket maxima are tiny
    * next to the cap (sf0.1: ≤ 84 members — see OPTIMIZATION_r14.md), so
    * only a truly degenerate corpus can trip it — and raising the cap is
    * then a deliberate memory-budget decision, not a silent OOM. */
  private def boundedBucket[T: scala.reflect.ClassTag](key: Any,
      it: Iterator[T], cap: Int, who: String): Array[T] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[T]
    while (it.hasNext) {
      buf += it.next()
      if (buf.length > cap) throw new IllegalStateException(
        s"$who: LSH bucket $key exceeds spark.graft.dedup.maxBucket=$cap " +
          "members - a degenerate (boilerplate-heavy) bucket would buffer " +
          "unbounded token arrays in one task. Raise the cap only as a " +
          "deliberate executor-memory decision.")
    }
    buf.toArray
  }

  /** Count of common elements of two SORTED duplicate-free long arrays —
    * one linear merge, no allocation. */
  private def intersectCount(x: Array[Long], y: Array[Long]): Long = {
    var i = 0; var j = 0; var c = 0L
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { c += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    c
  }

  /** Min-label propagation to convergence over an undirected edge list
    * `pairs(a, b)` — the iterative core shared by [[clusterDocs]] (corpus
    * closure) and [[mergeClusters]] (batch-sized affected graph). Returns
    * (doc_id, label) for every vertex APPEARING IN AN EDGE; isolated
    * vertices are the caller's business (they can never change label).
    *
    * Iterates ONLY over vertices that have an edge: isolated docs (the
    * overwhelming majority of a 100 TB corpus) can never change label,
    * so keeping them in the loop would shuffle the whole corpus every
    * round.
    *
    * Each vertex also gets a flagged SELF-loop, which buys one round =
    * exactly TWO shuffles: min(lb) over the closed neighborhood is the
    * new label, and the self row carries the vertex's previous label —
    * so convergence detection needs no second join against the prior
    * state (a third shuffle per round in the naive formulation).
    *
    * Loops to convergence — the dedup_cluster oracle's recursive CTE
    * computes the UNBOUNDED closure, so a round cap would diverge on long
    * chains. Each round combines neighbor-min propagation with POINTER
    * JUMPING (label := min(label, label(label))), so chains converge in
    * O(log eccentricity) rounds, not O(eccentricity) — a 10k-link drift
    * chain needs ~14 rounds, not 10k sequential jobs. The cap is a pure
    * runaway guard and exits LOUDLY. */
  private def propagateMin(pairs: org.apache.spark.sql.DataFrame,
      mat: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val undirected = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      .withColumn("self", lit(false))
    val edges = mat(undirected
      .union(undirected.select(col("a")).distinct()
        .select(col("a"), col("a").as("b"), lit(true).as("self"))))
    var labels = mat(edges.filter(col("self"))
      .select(col("a").as("doc_id"), col("b").as("label")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 64) {
      val nbr = edges
        .join(labels.select(col("doc_id").as("b"), col("label").as("lb")), Seq("b"))
        .groupBy(col("a"))
        .agg(min(col("lb")).as("label"), max(when(col("self"), col("lb"))).as("old"))
      val next = mat(nbr
        .join(nbr.select(col("a").as("jid"), col("label").as("jlb")),
          nbr("label") === col("jid"), "left")
        .select(nbr("a"), least(nbr("label"), coalesce(col("jlb"), nbr("label"))).as("label"),
          col("old")))
      changed = next.filter(col("label") =!= col("old")).count()
      labels.unpersist(blocking = false) // free the superseded round's blocks
      labels = next.select(col("a").as("doc_id"), col("label"))
      iter += 1
    }
    if (changed > 0)
      System.err.println(s"[dedup_cluster] WARNING: iteration cap hit with $changed labels " +
        "still changing — clusters may be unconverged (pathological component shape)")
    edges.unpersist(blocking = false)
    labels
  }

  // ------------------------------------------------------------------
  // Exact-recall containment via prefix-filtered inverted index
  // ------------------------------------------------------------------

  /** Containment join with EXACT candidate recall (prefix filtering, the
    * set-similarity-join classic): emit (a, b) with
    * max(c(a→b), c(b→a)) >= `thresholdMilli` permille, where
    * c(a→b) = |A∩B| / |A| over distinct 3-shingles.
    *
    * Why not MinHash bands: banding recall decays with symmetric Jaccard,
    * and a short-doc-quoted-in-long pair has c ≈ 1 but J ≈ |A|/|B| → 0.
    * Prefix filter instead: order every doc's shingles by one fixed
    * global order and probe only the first k_a = floor((1000-t)/1000 ·
    * n_a) + 1 of them against a full inverted index. If no probe hits,
    * the intersection is confined to the remaining n_a - k_a shingles, so
    * c(a→b) < t — a MISSED pair is arithmetically impossible, for any
    * global order (pigeonhole).
    *
    * Scale shape: the global order is ASCENDING document frequency (ties
    * by shingle value), so prefixes hold each doc's rarest shingles and
    * the probe side of the (source, shingle) equi-join lands on the
    * SHORTEST posting lists — the hot keys (stopword shingles) sit in the
    * index but are almost never probed. Costs: one df aggregation, one
    * per-doc top-k window (bounded by shingle count per doc), one
    * posting-list equi-join, then exact verification once per DISTINCT
    * candidate pair. Everything shuffles on compact scalar keys. */
  def containmentExact(raw: org.apache.spark.sql.DataFrame,
      thresholdMilli: Int = 600): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = raw
      .select(col("source"), col("doc_id"), shingles3(tokHashesSeq(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
      // materialized once (r13 optimization round): the shingle
      // projection feeds FIVE consumers (exploded→dfreq, the prefix
      // join, the cand probe, and both verification array fetches) —
      // without the cut the tokenize∘shingle chain re-ran per consumer,
      // five full corpus passes (plan-audited: 5 parquet scans). The
      // 100 TB shape is the same discipline as q98's rollup and q102's
      // pres: project the corpus to (source, doc_id, sh) once, reuse.
      .localCheckpoint()
    val exploded = base.select(col("source"), col("doc_id"),
      size(col("sh")).cast("long").as("n"), explode(col("sh")).as("shingle"))
    val dfreq = exploded.groupBy(col("source"), col("shingle"))
      .agg(count(lit(1)).as("df"))
    // prefix length: the smallest k with n - k < ceil(t/1000 · n), i.e.
    // k = floor((1000-t)·n / 1000) + 1 — exact integer arithmetic
    val prefix = exploded.join(dfreq, Seq("source", "shingle"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("source"), col("doc_id"))
          .orderBy(col("df"), col("shingle"))))
      .filter(col("rnk") <= expr(s"n * ${1000 - thresholdMilli} div 1000 + 1"))
      .select(col("source"), col("doc_id").as("p"), col("shingle"))
    val cand = prefix
      .join(exploded.select(col("source"), col("doc_id").as("q"), col("shingle")),
        Seq("source", "shingle"))
      .filter(col("p") =!= col("q"))
      .select(col("source"), least(col("p"), col("q")).as("a"),
        greatest(col("p"), col("q")).as("b"))
      .distinct()
    val shOf = base.select(col("doc_id"), col("sh"))
    cand
      .join(shOf.select(col("doc_id").as("a"), col("sh").as("sa")), Seq("a"))
      .join(shOf.select(col("doc_id").as("b"), col("sh").as("sb")), Seq("b"))
      .select(col("source"), col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        size(col("sa")).cast("long").as("na"), size(col("sb")).cast("long").as("nb"))
      .withColumn("cont_ab_milli", expr("inter * 1000 div na"))
      .withColumn("cont_ba_milli", expr("inter * 1000 div nb"))
      .filter(greatest(col("cont_ab_milli"), col("cont_ba_milli")) >= thresholdMilli)
      .orderBy("source", "a", "b")
  }

  // ------------------------------------------------------------------
  // Materialized clusters: cluster once, consume many times
  // ------------------------------------------------------------------

  /** Run [[clusterDocs]] and persist the (doc_id, cluster) table to
    * `outDir` as parquet. At 100 TB a pipeline never re-clusters per
    * consumer — clustering is the expensive step (LSH + iterative
    * propagation over the whole corpus), while its OUTPUT is two slim
    * longs per document that every downstream consumer (splits, dedup
    * reports, sampling) re-reads for the cost of a column scan. The same
    * cluster-once shape as the persistent band index
    * ([[incrementalNearDup]]), but for the batch closure. Invalidation is
    * caller-managed: re-run after the corpus changes. */
  def writeClusters(raw: org.apache.spark.sql.DataFrame, outDir: String,
      checkpointDir: Option[String] = None): Unit =
    clusterDocs(raw, checkpointDir).write.mode("overwrite").parquet(outDir)

  /** Leakage-safe 80/10/10 split from a (doc_id, cluster) table — the
    * consumer half of [[writeClusters]] (the sample_split semantics:
    * assignment unit = near-dup cluster, affine hash of the cluster id,
    * no RNG). Works on the live [[clusterDocs]] output or the re-read
    * parquet table identically — spec-asserted equivalent. */
  def splitFromClusters(clusters: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    clusters
      .withColumn("split_h", // mod-first: value-identical, overflow-proof
        expr("(((cluster % 1000003) * 104729 + 12345) % 1000003) % 100"))
      .withColumn("split",
        when(col("split_h") < 80, "train")
          .when(col("split_h") < 90, "val").otherwise("test"))
      .select(col("doc_id"), col("cluster"), col("split_h"), col("split"))
      .orderBy("doc_id")

  /** Process-lifetime memo of [[writeClusters]] keyed by corpus dir: the
    * first consumer in a session pays the clustering and writes the
    * table under a PER-PROCESS temp root; later consumers (and repeat
    * bench runs) scan the parquet. ASSUMES the corpus under a dir is
    * immutable for the life of the process (true of the read-only
    * testdata; the general contract for a corpus snapshot dir) — a
    * pipeline that regenerates a dir in-process must call
    * [[invalidateClustersMemo]] first or the memo serves the old
    * closure. The temp root is removed by a JVM shutdown hook, so the
    * tables never outlive the process that wrote them. */
  private val clustersWritten = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val clustersRoot = processTempRoot("graft-clusters-")

  /** Drop the memoized cluster table for `dir` (or all dirs) — required
    * before re-reading a corpus dir whose CONTENT changed in-process. */
  def invalidateClustersMemo(dir: String = null): Unit =
    if (dir == null) clustersWritten.clear() else { clustersWritten.remove(dir); () }

  /** Subdir allocator for [[clustersTable]]: a process-unique counter, NOT
    * a hash of the corpus dir — 32-bit String.hashCode collides trivially
    * ("Aa"/"BB"), and two colliding corpus dirs sharing one parquet path
    * would silently serve cluster assignments from whichever corpus wrote
    * last. computeIfAbsent guarantees one allocation per distinct dir. */
  private val clustersSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  def clustersTable(spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val path = clustersWritten.computeIfAbsent(dir, { d =>
      val out = s"$clustersRoot/c${clustersSeq.getAndIncrement()}"
      writeClusters(graft.Qh.tbl(spark, d, "documents"), out)
      out
    })
    spark.read.parquet(path)
  }

  // ------------------------------------------------------------------
  // Incremental (cross-run / streaming) near-dup dedup
  // ------------------------------------------------------------------

  /** bkey hash buckets the persistent band index is partitioned by
    * (together with `band`): a small probe batch reads only the (band, kb)
    * partitions its own keys hash to instead of scanning every posting.
    * 16 buckets x 4 bands = 64 directories per ingested batch — coarse
    * enough to avoid a small-file explosion at streaming cadence, fine
    * enough that a one-doc probe touches <= 4 of 64 partitions. */
  val KbBuckets = 16

  /** Partition bucket of a band key. */
  def kbOf(bkey: Column): Column = pmod(strHash(bkey), lit(KbBuckets.toLong)).cast("int")

  /** Columns of the band index's two tables (see [[incrementalNearDup]]
    * for the layout); every reader and writer goes through these. */
  private val BandsDdl = "band INT, bkey STRING, doc_id BIGINT, source STRING, kb INT"
  private val SigsDdl = "doc_id BIGINT, tk ARRAY<BIGINT>"

  /** An arriving batch signed for the band index: `sig` (doc_id, source,
    * tk, mhs) and its posting rows `banded` (doc_id, source, band, bkey,
    * kb). Both are persisted — each feeds the probe, the in-batch pass
    * and the index write — until [[writeIndex]] (or a caller that writes
    * nothing) calls `release`. */
  private final case class Signed(sig: DataFrame, banded: DataFrame) {
    def tk: DataFrame = sig.select("doc_id", "tk")
    def release(): Unit = { banded.unpersist(blocking = false); sig.unpersist(blocking = false); () }
  }

  /** The batch's `source` column, or "" when it has none (the
    * single-source case). */
  private def sourceOf(df: DataFrame): Column =
    (if (df.columns.contains("source")) col("source") else lit("")).as("source")

  /** Sign `docs` (doc_id, text, optional source) for the band index:
    * token hashes, MinHash signature, band explode and the kb bucket. */
  private def signBatch(docs: DataFrame): Signed = {
    val sig = docs.select(col("doc_id"), sourceOf(docs), tokHashes(col("text")).as("tk"))
      .withColumn("mhs", minhashSig(col("tk")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Signed(sig, bandExplode(sig, "mhs", Seq("doc_id", "source"))
      .withColumn("kb", kbOf(col("bkey")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Verified near-dup edges (doc_id, old_id) from a signed batch into the
    * stored index: every stored doc sharing a (band, bkey) — and the
    * `scope` columns — with a batch doc, kept when token Jaccard >=
    * `threshold`. Stored rows under `excludeBatch` are not read (replay
    * safety, see [[incrementalNearDup]]).
    *
    * The batch side is BROADCAST (the bounded-batch contract of
    * [[incrementalNearDup]] and [[mergeClusters]]), and index-partition
    * pruning is DYNAMIC: kb = kbOf(bkey) is a data column on the batch
    * side and a partition column on the stored side, so adding it to the
    * equi-join keys is a no-op for the join RESULT but lets Spark's
    * dynamic partition pruning derive the stored scan's partition filter
    * from the broadcast batch side — at most Bands x KbBuckets partitions
    * read, with no driver collect per batch. MergeDppSpec pins that the
    * pruning subquery is present in the probe's executed plan for both
    * callers, so a planner change cannot silently degrade it to a full
    * index scan. With no index on disk yet the stored side is
    * definitionally empty and no probe job runs. */
  private def probeIndex(signed: Signed, indexDir: String, scope: Seq[String],
      threshold: Double, excludeBatch: Option[Long]): DataFrame = {
    val spark = signed.sig.sparkSession
    // read (and so guard: mid-swap, old format, hash version) before the
    // no-index shortcut — a crash-left `bands.old` must fail, not probe empty
    val storedBands = readIndexTable(spark, s"$indexDir/bands", BandsDdl, excludeBatch)
    val storedSigs = readIndexTable(spark, s"$indexDir/sigs", SigsDdl, excludeBatch)
    if (!graft.sources.Sources.fsExists(spark, s"$indexDir/bands"))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, old_id BIGINT"))
    val keys = Seq("band", "kb", "bkey") ++ scope
    storedBands.select(keys.map(col) :+ col("doc_id").as("old_id"): _*)
      .join(broadcast(signed.banded.select((keys :+ "doc_id").map(col): _*)
        // the band-domain bound is a tautology (bands are 0..Bands-1 by
        // construction) kept for the OPTIMIZER: Spark's PartitionPruning
        // rule only derives a dynamic partition filter from a build side
        // that carries a likely-selective predicate, and an unfiltered
        // broadcast — however small — does not qualify
        .filter(col("band").between(0, Bands - 1))), keys)
      .select("doc_id", "old_id").distinct()
      // the stored side stays a shuffle join: it is index-sized
      .join(broadcast(signed.tk), Seq("doc_id"))
      .join(storedSigs.select(col("doc_id").as("old_id"), col("tk").as("tko")), Seq("old_id"))
      .filter(jaccard(col("tk"), col("tko")) >= threshold)
      .select(col("doc_id"), col("old_id"))
  }

  /** Task count for the per-batch bands-index write. The FILE count (one
    * per touched (band, kb) dir) is the same at any task count, and a
    * micro-batch increment is small by definition, so
    * shuffle.partitions-many writer tasks would be pure overhead. */
  private val BandWriteTasks = 4

  /** Write a signed batch — or only its `keep` doc ids — into the index as
    * `batch=$batchId` of `bands/` and `sigs/`, mode=overwrite, so a
    * replayed batch rewrites the same paths. The two writes run as
    * CONCURRENT jobs; the returned future completes after both (success
    * or failure), and the signed frames are released then. Every caller
    * awaits it before its batch body returns: a dangling write racing a
    * replay's rewrite of the same paths would corrupt the index.
    *
    * Bands are repartitioned onto their (band, kb) target dirs in
    * `bandTasks` tasks before the dynamic-partition write: from P input
    * partitions the writer would open up to P x 64 files; repartitioned,
    * each task owns whole directories — ~30x fewer files per micro-batch
    * (r10 lane profile) and cheaper listing for every later probe. */
  private def writeIndex(signed: Signed, indexDir: String, batchId: Long, bandTasks: Int,
      keep: Option[DataFrame] = None): scala.concurrent.Future[Unit] = {
    val spark = signed.sig.sparkSession
    def kept(df: DataFrame): DataFrame = keep.fold(df)(ids => df.join(ids, Seq("doc_id")))
    implicit val ec: scala.concurrent.ExecutionContext = Qh.ioEc
    // Each write stamps its store BEFORE writing data: a crash in between
    // leaves a stamped-but-empty dir that reads as an empty store and
    // replays cleanly; stamped after, the same crash left current-fold
    // data that requireHashVersion would permanently refuse as "pre-v2".
    val fBands = scala.concurrent.Future {
      Qh.stampHashVersion(spark, s"$indexDir/bands")
      kept(signed.banded).select("bkey", "doc_id", "source", "band", "kb")
        .repartition(bandTasks, col("band"), col("kb"))
        .write.partitionBy("band", "kb")
        .mode("overwrite").parquet(s"$indexDir/bands/batch=$batchId")
    }
    val fSigs = scala.concurrent.Future {
      Qh.stampHashVersion(spark, s"$indexDir/sigs")
      kept(signed.tk).coalesce(math.min(8, spark.sparkContext.defaultParallelism))
        .write.mode("overwrite").parquet(s"$indexDir/sigs/batch=$batchId")
    }
    // NOT zip: zip fails fast, orphaning the partner write
    val written = Qh.afterBoth(fBands, fSigs)
    written.onComplete(_ => signed.release())
    written
  }

  private def await(f: scala.concurrent.Future[Unit]): Unit =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  /** Dedup an ARRIVING batch of documents against a persistent LSH band
    * index, instead of re-running corpus-wide dedup — the only shape that
    * works at 100 TB, where the kept corpus is far too large to re-cluster
    * per ingest cycle. Streaming analog of reference T7 (cross-run dedup
    * vs a Valkey set, producer/fetch.go:155-173), generalized from
    * exact-id equality to MinHash-LSH near-dup.
    *
    * The index is two parquet tables under `indexDir`:
    *   - `bands/batch=N/`: (band, bkey, doc_id, source) — LSH posting lists;
    *   - `sigs/batch=N/`:  (doc_id, tk)        — token-hash sets for verify.
    * Each call writes ONLY its own `batch=$batchId` subdirectories with
    * mode=overwrite ([[writeIndex]]), so a replayed micro-batch
    * (checkpoint recovery) rewrites the same paths and the index never
    * duplicates: dedup output is idempotent per batch id.
    *
    * INDEX FORMAT: `bands/` is hive-partitioned by (band, kb) — an index
    * written by an engine version without the kb partition column is NOT
    * readable here (mixed partition depths fail discovery, and flat rows
    * would read kb=NULL and silently miss every probe). Bands also carry a
    * `source` data column ([[mergeClusters]] scopes edges by it; this
    * function's probes deliberately do not — dedup-on-ingest is
    * corpus-wide, matching dedup_minhash_lsh); a batch without a `source`
    * column indexes under source "". [[readIndexTable]] refuses an index
    * missing a declared column — rebuild old-format indexes by replaying
    * ingest into a fresh indexDir.
    *
    * A new doc is dropped if it Jaccard-matches (>= threshold) any stored
    * doc sharing a band key ([[probeIndex]], scope Nil), or the
    * minimum-id doc of one of its band buckets within the batch
    * ([[bucketMinPairs]], the [[defs dedup_minhash_lsh]] keep-first
    * approximation). Every join is an equi-join on the compact (band,
    * bkey) key or on doc_id, and the stored-index probe prunes the
    * (band, kb) partitions dynamically from the broadcast batch side, so a
    * small probe reads only the index partitions its own keys hash to.
    *
    * BOUNDED-BATCH CONTRACT: `batch` must be micro-batch-sized — the
    * arriving slice of a throttled stream (maxFilesPerTrigger /
    * maxOffsetsPerTrigger are the backpressure knobs), never the corpus.
    * The probe BROADCASTS the batch's posting and signature frames, so an
    * unbounded batch fails LOUDLY at Spark's broadcast size limit rather
    * than silently degrading; corpus-scale dedup is
    * [[defs dedup_minhash_lsh]]'s job.
    *
    * Returns the kept rows of `batch` (all original columns); the index
    * write has landed when it returns. */
  def incrementalNearDup(batch: org.apache.spark.sql.DataFrame, indexDir: String,
      threshold: Double = 0.7, batchId: Long = 0L): org.apache.spark.sql.DataFrame = {
    val signed = signBatch(batch)
    // vs the stored corpus. A REPLAYED batch must not probe against its
    // own previously written rows (they would near-dup-match the very
    // docs being re-decided and drop both members of a kept similar
    // pair), so batch=batchId is excluded. No doc_id self-exclusion: a
    // doc RE-DELIVERED in a later batch (at-least-once sources) must
    // match its own stored copy and drop — exactly the reference's T7
    // cross-run dedup.
    val droppedVsIndex = probeIndex(signed, indexDir, Nil, threshold, Some(batchId))
      .select("doc_id")
    // within the batch: keep-first vs each bucket's min id
    val droppedInBatch = bucketMinPairs(signed.banded, Nil)
      .join(signed.tk, Seq("doc_id"))
      .join(signed.tk.select(col("doc_id").as("min_id"), col("tk").as("tkm")), Seq("min_id"))
      .filter(jaccard(col("tk"), col("tkm")) >= threshold)
      .select("doc_id")
    // Materialize before writing the index: the kept set must be decided
    // against the PRE-batch index, not one the write below is mutating.
    val keptOut = batch.join(droppedVsIndex.union(droppedInBatch).distinct(),
      Seq("doc_id"), "left_anti").localCheckpoint(true)
    await(writeIndex(signed, indexDir, batchId, BandWriteTasks,
      keep = Some(keptOut.select("doc_id"))))
    keptOut
  }

  /** Read one table of the persistent band index, tolerating a not-yet-
    * created directory (first batch) and optionally excluding one batch
    * partition (replay safety — see [[incrementalNearDup]]). The
    * filesystem is resolved FROM the path: indexDir may live on a scheme
    * other than fs.defaultFS (s3a vs hdfs vs file) on a real cluster.
    *
    * Refuses a mid-swap tree: a `<dir>.old` left by an interrupted
    * [[compactIndex]] means the live dir may be missing or partial —
    * reading it as "empty index" would silently keep every near-dup, so
    * fail loudly and point at the recovery (re-run compactIndex).
    *
    * Also refuses an index whose files lack a DECLARED column (an index
    * written by an older engine version, e.g. bands without `source`):
    * Spark would fill the missing column with NULL row-by-row, and a
    * NULL source silently fails every source-scoped equi-join — probes
    * would miss the whole stored corpus. Fail loudly instead; the
    * recovery is replaying ingest into a fresh indexDir. */
  private def readIndexTable(spark: org.apache.spark.sql.SparkSession, dir: String,
      schemaDdl: String, excludeBatch: Option[Long]): org.apache.spark.sql.DataFrame =
    if (graft.sources.Sources.fsExists(spark, s"$dir.old"))
      throw new IllegalStateException(
        s"$dir.old exists: an index compaction was interrupted mid-swap. " +
          "Re-run Dedup.compactIndex on this index to roll back/complete before reading.")
    else if (graft.sources.Sources.fsExists(spark, dir)) {
      val declared = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
      // A dir holding only the hash-version marker (writers stamp BEFORE
      // the first data write, so a crash in between leaves exactly this)
      // has no parquet footers to infer from — it is an empty store, not
      // an error; the replay that follows such a crash rewrites batch=N.
      val onDiskOpt =
        try Some(spark.read.parquet(dir).schema.fieldNames.toSet)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if String.valueOf(e.getMessage).contains("UNABLE_TO_INFER_SCHEMA") => None
        }
      if (onDiskOpt.isEmpty)
        return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          declared)
      val onDisk = onDiskOpt.get
      val missing = declared.fieldNames.filterNot(onDisk.contains)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"$dir is an old-format index missing column(s) ${missing.mkString(", ")}; " +
            "reading it would silently miss probes. Rebuild by replaying ingest " +
            "into a fresh indexDir.")
      // Same loud-refusal class for a HASH-SEMANTICS change: an index
      // hashed under a pre-r12 fold has matching columns but silently
      // stops matching re-hashed duplicates (graft.Qh.StoreHashVersion).
      graft.Qh.requireHashVersion(spark, dir)
      val df = spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(s"$schemaDdl, batch BIGINT"))
        .parquet(dir)
      excludeBatch.fold(df)(b => df.filter(col("batch") =!= b)).drop("batch")
    } else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))

  /** Compact the persistent band index: rewrite every `batch=N`
    * subdirectory of `bands/` and `sigs/` into a single reserved
    * `batch=-1` partition (negative ids never collide with real batch
    * ids, which Structured Streaming assigns from 0). Streaming-cadence
    * ingest accumulates one directory tree per micro-batch — thousands of
    * small files per day — and every probe's partition discovery pays for
    * all of them; compaction collapses the metadata back to one tree
    * while preserving the (band, kb) partitioning the probes prune on.
    *
    * Two call shapes:
    *  - MAINTENANCE (excludeBatch = None): run where (a) no ingest is
    *    active and (b) every written batch's checkpoint is committed —
    *    after compaction a replayed batch would find its own rows under
    *    batch=-1 and self-match (the hazard the per-batch exclusion
    *    exists for).
    *  - IN-STREAM CADENCE (excludeBatch = Some(currentBatchId), the
    *    [[graft.streaming.Streaming.clusterBatch]] hook): safe at the
    *    START of micro-batch N because every id < N is committed. Rows
    *    under batch=N — a leftover from a crashed attempt at this very
    *    batch — are EXCLUDED from the compacted generation and their
    *    dir drops with the swap; the current batch rewrites batch=N in
    *    overwrite mode during its own merge, so the leftover's loss is
    *    exactly a replay. Re-running the compaction on replay reads the
    *    already-compacted generation and rewrites it row-identically.
    *
    * Crash-safety of the swap itself (both shapes): the sequence (write
    * new → rename old aside → rename new in → delete old) leaves a
    * `*.old` tree if interrupted after the first rename; a RE-RUN
    * detects it and rolls the original back into place before
    * compacting again, and index READS refuse a mid-swap tree
    * ([[readIndexTable]]) so a crash can never be misread as an empty
    * index. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      excludeBatch: Option[Long] = None): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    // Crash recovery FIRST: a bands.old/sigs.old without its live dir is
    // an interrupted swap — restore the original before doing anything.
    // With BOTH present the swap had completed and only the final delete
    // was lost — finish the cleanup.
    Seq("bands", "sigs").foreach { sub =>
      val cur = new org.apache.hadoop.fs.Path(s"$indexDir/$sub")
      val old = new org.apache.hadoop.fs.Path(s"$indexDir/$sub.old")
      if (fs.exists(old)) {
        if (!fs.exists(cur))
          require(fs.rename(old, cur), s"compactIndex: could not roll back $old")
        else fs.delete(old, true)
      }
    }
    def swap(sub: String, write: String => Unit): Unit = {
      val cur = new org.apache.hadoop.fs.Path(s"$indexDir/$sub")
      if (!fs.exists(cur)) return
      val neu = new org.apache.hadoop.fs.Path(s"$indexDir/$sub.new")
      val old = new org.apache.hadoop.fs.Path(s"$indexDir/$sub.old")
      fs.delete(neu, true); fs.delete(old, true)
      write(s"$indexDir/$sub.new/batch=-1")
      // Stamp the hash-version marker into the NEW tree before any
      // rename: the activated generation then carries it atomically
      // with the swap (a post-swap stamp would leave a marker-less
      // live dir if interrupted between activation and stamping, and
      // reads would refuse a perfectly good index).
      Qh.stampHashVersion(spark, s"$indexDir/$sub.new")
      require(fs.rename(cur, old), s"compactIndex: could not move $cur aside")
      require(fs.rename(neu, cur), s"compactIndex: could not activate $neu")
      fs.delete(old, true)
    }
    // Each swap WRITES the compacted copy before renaming anything, so the
    // plan always reads from intact source dirs — no lineage hazard.
    val bands = readIndexTable(spark, s"$indexDir/bands", BandsDdl, excludeBatch)
    val sigs = readIndexTable(spark, s"$indexDir/sigs", SigsDdl, excludeBatch)
    // same writer discipline as writeIndex: cluster rows onto their
    // (band, kb) target dirs so each task owns whole directories
    swap("bands", dir => bands.repartition(col("band"), col("kb"))
      .write.partitionBy("band", "kb").parquet(dir))
    swap("sigs", dir => sigs.write.parquet(dir))
  }

  /** Index a batch into the persistent band index WITHOUT any dedup
    * decision — the companion write for pipelines that RETAIN
    * near-duplicates and track them as clusters ([[mergeClusters]])
    * rather than dropping them on ingest ([[incrementalNearDup]]).
    * Same format and idempotence contract ([[writeIndex]]): only
    * `batch=$batchId` subdirectories are written, mode=overwrite, so
    * checkpoint replays rewrite the same paths.
    *
    * Unlike the probing callers this is also the one-off BOOTSTRAP
    * backfill (see [[mergeAndIndex]]'s precondition), whose input can be
    * corpus-sized, so the bands write runs in the session's
    * shuffle-partition count of tasks rather than [[BandWriteTasks]]. */
  def indexBatch(batch: org.apache.spark.sql.DataFrame, indexDir: String,
      batchId: Long): Unit =
    await(writeIndex(signBatch(batch), indexDir, batchId,
      batch.sparkSession.sessionState.conf.numShufflePartitions))

  /** Merge an ARRIVING batch into a materialized (doc_id, cluster) table
    * ([[writeClusters]] output) without re-clustering the corpus — the
    * incremental closure maintenance a 100 TB pipeline needs when it
    * RETAINS near-duplicates and tracks their clusters across ingest
    * cycles.
    *
    * Candidates come from the persistent band index ([[probeIndex]], the
    * dynamically partition-pruned probe [[incrementalNearDup]] shares,
    * scoped by `source`); verified edges are Jaccard >=
    * `threshold` on the token-hash sets. The closure update runs on the
    * AFFECTED MICRO-GRAPH only: old edge endpoints collapse to their
    * CLUSTER LABEL (valid because a label is the min doc_id of its
    * component and old-old edges cannot change by adding documents), so
    * the graph that iterates is batch-sized — new doc ids + touched
    * cluster labels — never the corpus. The corpus-sized table is touched
    * by exactly ONE broadcast-join relabel pass (the relabel map is
    * bounded by the batch's edge count), plus a union of the new rows.
    *
    * Equivalence: the result is IDENTICAL to re-running [[clusterDocs]]
    * on the full corpus, multi-source included — the band index carries
    * each doc's `source` and candidate edges here are scoped by it
    * exactly as clusterDocs scopes its self-join, so both runs discover
    * the same edges, verify with the same Jaccard, and take the same
    * closure (ClusterMergeSpec asserts this, including a planted
    * cross-source near-dup pair that must NOT merge). A batch without a
    * `source` column is treated as source "" (the single-source case).
    * `batch` must itself be indexed ([[indexBatch]]) before the NEXT
    * merge cycle probes it.
    *
    * IDEMPOTENT under replay (the library's delivery contract —
    * at-least-once sources + idempotent consumers): doc_ids already
    * present in `clusters` are dropped from the batch up front via an
    * anti-join on the 8-byte key, so re-merging a delivered batch is a
    * no-op rather than a row-duplicating corruption. The anti-join is
    * corpus-sized but key-only — the same cost class as the relabel pass.
    * Duplicate doc_id rows WITHIN one batch (possible under at-least-once
    * delivery) collapse to one row before the anti-join for the same
    * reason.
    *
    * BOUNDED-BATCH CONTRACT (r12), shared with [[incrementalNearDup]]:
    * `batch` must be micro-batch-sized — the arriving slice of a
    * throttled stream, never the corpus. The stored-index probe
    * BROADCASTS the batch's banded/signature frames (that is what lets
    * dynamic partition pruning prune the index scan instead of a
    * per-batch driver collect), so an unbounded batch fails LOUDLY at
    * Spark's broadcast size limit rather than silently degrading —
    * corpus-scale (re)clustering is [[clusterDocs]]' job, not this
    * one's.
    *
    * Returns the updated (doc_id, cluster) table. */
  def mergeClusters(clusters: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, indexDir: String,
      threshold: Double = 0.8,
      checkpointDir: Option[String] = None): org.apache.spark.sql.DataFrame =
    mergeCore(clusters, batch, indexDir, threshold, checkpointDir, indexWriteBatch = None)._1

  /** [[mergeClusters]] FUSED with the batch's index write — the shape
    * [[graft.streaming.Streaming.clusterBatch]] runs per micro-batch.
    * The separate mergeClusters-then-indexBatch sequence computed the
    * tokHashes+MinHash signatures and the band explode TWICE per batch
    * over the same documents; here the index write reuses the cached
    * frames the merge already built (~25% of the composed lane's
    * per-batch cost at the r10 profile). Semantics:
    *   - only FRESH docs index (batch minus docs already clustered) — a
    *     doc re-delivered in a later batch is already in the index from
    *     its first batch; re-indexing it under the new batch id would
    *     only duplicate probe candidates.
    *   - the stored-index probe EXCLUDES batch=batchId (the
    *     incrementalNearDup replay rule): a crash between the index
    *     write and the snapshot write leaves batch=N index rows that a
    *     replay must not probe against. (Even unexcluded they were
    *     harmless — edges to unclustered old_ids drop at the clusters
    *     join — but exclusion keeps replay reads byte-identical to the
    *     first run.)
    * Write order (index before the caller materializes the returned
    * merge) is replay-safe: both halves write only batch=N overwrite
    * paths, and the merge plan's index/cluster reads resolved their
    * file listings before the write.
    *
    * CONTRACT — calling this WRITES: the batch=N index write runs while
    * CONSTRUCTING the returned DataFrame, not when the caller
    * materializes it. Do not construct the merge speculatively (e.g. to
    * explain its plan) unless the index write under `batchId` is
    * acceptable; a replay of the same batchId overwrites it, so the
    * write is idempotent but not free. CurateIngestSpec pins the
    * crash-recovery corollary: a crash AFTER this index write but BEFORE
    * the caller persists the merge replays byte-identically, because the
    * replay's probe excludes batch=batchId.
    *
    * PRECONDITION — `clusters` must originate from ingest that went
    * through this fused path (or [[mergeClusters]] + [[indexBatch]]):
    * only docs NOT already in `clusters` are indexed here, so a
    * bootstrap clusters table whose docs never passed an indexed ingest
    * (e.g. a [[clusterDocs]] output adopted as the serving table) leaves
    * those docs absent from the band index — future near-dup edges to
    * them are silently lost. Backfill such a table ONCE with
    * [[indexBatch]](bootstrapDocs, indexDir, batchId) under a reserved
    * batch id before the first merge (MergeHybridSpec's bootstrap case
    * pins that the backfilled path then finds the cross-generation
    * edges). */
  def mergeAndIndex(clusters: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, indexDir: String, batchId: Long,
      threshold: Double = 0.8,
      checkpointDir: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val (out, idxF) = mergeAndIndexStaged(clusters, batch, indexDir, batchId,
      threshold, checkpointDir)
    await(idxF)
    out
  }

  /** STAGED form of [[mergeAndIndex]] for per-batch action overlap
    * (graft.streaming.Streaming.clusterBatch): the returned future is
    * the in-flight index write — independent of the returned merge
    * frame, so the caller can run its own snapshot write as a
    * concurrent job and await the future before committing the batch.
    * The caller MUST await it before the batch body returns, even on
    * failure (clusterBatch's drain rule, `Streaming.drainAfter`): a
    * dangling write racing a replay's rewrite of the same batch=N paths
    * would corrupt the index. The
    * plain [[mergeAndIndex]] awaits internally and keeps the
    * index-written-on-return contract. */
  private[graft] def mergeAndIndexStaged(clusters: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, indexDir: String, batchId: Long,
      threshold: Double, checkpointDir: Option[String])
      : (org.apache.spark.sql.DataFrame, scala.concurrent.Future[Unit]) =
    mergeCore(clusters, batch, indexDir, threshold, checkpointDir,
      indexWriteBatch = Some(batchId))

  private def mergeCore(clusters: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, indexDir: String,
      threshold: Double,
      checkpointDir: Option[String],
      indexWriteBatch: Option[Long])
      : (org.apache.spark.sql.DataFrame, scala.concurrent.Future[Unit]) = {
    val spark = batch.sparkSession
    // Same lineage-durability choice as clusterDocs: localCheckpoint
    // blocks are lost with an executor; pass a reliable checkpointDir on
    // a real cluster so a lost executor recomputes instead of failing
    // the micro-batch. Session-global effect — Qh.setReliableCheckpointDir
    // warns on a differing pre-set dir and skips the per-batch re-set
    // (each raw setCheckpointDir call mkdirs a fresh UUID subdir).
    checkpointDir.foreach(d => Qh.setReliableCheckpointDir(spark, d))
    val mat: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      if (checkpointDir.isDefined) _.checkpoint() else _.localCheckpoint(true)
    // At-least-once delivery can duplicate a doc_id WITHIN one batch;
    // collapse before the anti-join or both copies pass as "fresh" and
    // the output table gains duplicate rows.
    val fresh = batch.select(col("doc_id"), sourceOf(batch), col("text"))
      .dropDuplicates("doc_id")
      .join(clusters.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val signed = signBatch(fresh)
    val (banded, newSigs) = (signed.banded, signed.tk)
    // Edges scope by source on BOTH probes — the closure must match what
    // clusterDocs would compute on the union corpus, and clusterDocs only
    // pairs docs within one source.
    val edgesOld = probeIndex(signed, indexDir, Seq("source"), threshold, indexWriteBatch)
    val edgesNew = banded.select(col("band"), col("bkey"), col("source"), col("doc_id").as("a"))
      .join(banded.select(col("band"), col("bkey"), col("source"), col("doc_id").as("b")),
        Seq("band", "bkey", "source"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
      .join(newSigs.select(col("doc_id").as("a"), col("tk").as("ta")), Seq("a"))
      .join(newSigs.select(col("doc_id").as("b"), col("tk").as("tb")), Seq("b"))
      .filter(jaccard(col("ta"), col("tb")) >= threshold)
      .select("a", "b")
    // collapse old endpoints to their cluster label -> batch-sized graph
    val micro = edgesNew.union(
      edgesOld.join(clusters.select(col("doc_id").as("old_id"), col("cluster")), Seq("old_id"))
        .select(col("doc_id").as("a"), col("cluster").as("b")))
    val labels = propagateMinHybrid(micro, mat)
    val newRows = fresh.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster"))
    // relabel map: touched cluster labels whose merged min moved
    val relabel = labels
      .join(clusters.select(col("cluster").as("doc_id")).distinct(), Seq("doc_id"))
      .filter(col("label") =!= col("doc_id"))
      .select(col("doc_id").as("cluster"), col("label").as("new_cluster"))
    val updatedOld = clusters
      .join(broadcast(relabel), Seq("cluster"), "left")
      .select(col("doc_id"), coalesce(col("new_cluster"), col("cluster")).as("cluster"))
    val out = updatedOld.union(newRows)
    // Fused index write (mergeAndIndex): reuse the cached signature and
    // band frames the merge just built instead of recomputing them in a
    // separate indexBatch pass. Launching the writes AFTER the edge
    // collect is deliberate: launched before it, the writes race the
    // collect to materialize the caches and the duplicated signature
    // computation costs more than the overlap saves (measured). The
    // caller still overlaps its own dependent work (the snapshot write)
    // until awaiting the returned future. Without a write the caches are
    // released now: the merge output's lineage re-reads the batch, not
    // the cached frames.
    val idxF = indexWriteBatch match {
      case Some(bid) => writeIndex(signed, indexDir, bid, BandWriteTasks)
      case None => signed.release(); scala.concurrent.Future.unit
    }
    (out, idxF)
  }
}

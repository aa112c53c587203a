package graft.enrich

import graft.schema.Models._
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Enrichment stages — the reference's three remote-model calls re-expressed
  * as pluggable pure-Scala traits with deterministic default
  * implementations, so pipelines are testable offline and results never
  * flap (SURVEY §7.4 risk 1):
  *
  *  - T15 sentiment scorer (sentiment_analysis_consumer.go:41-62) →
  *    [[LexiconScorer]], a VADER-style lexicon scorer (heritage:
  *    original_vader_score, models/analyzed_models.go:8).
  *  - T12 summarizer (summary_consumer.go:63-110) → [[ExtractiveSummarizer]],
  *    first-k-sentences ≤ threshold.
  *  - T17 topic extractor (topic_generation.go:60-113) →
  *    [[RuleBasedTopicExtractor]], stopword-strip + keyword classifier.
  *
  * Each trait processes a whole batch (the reference batches 10/100 per
  * call); pipelines invoke them via `mapPartitions`, which preserves that
  * batch-amortization shape on executors. The scorer ALSO exists as pure
  * Column expressions ([[LexiconScorer.scoreCol]]) — codegen-friendly, no
  * UDF, usable straight in relational queries.
  */
object Enrich {

  trait SentimentScorer extends Serializable {
    def healthy: Boolean = true
    /** Score a batch; one output per input, joined by content_id. */
    def scoreBatch(batch: Seq[(String, String)]): Seq[(String, Double, String, Double)]
  }

  trait Summarizer extends Serializable {
    def healthy: Boolean = true
    def summarizeBatch(batch: Seq[(String, String)]): Seq[(String, String)]
  }

  trait TopicExtractor extends Serializable {
    def extractBatch(headlines: Seq[Headline]): Seq[Topic]
  }

  /** Deterministic VADER-style lexicon scorer. score = (pos - neg) /
    * tokens, clamped to [-1, 1]; label by fixed thresholds; confidence =
    * |pos - neg| / (pos + neg) (0.5 when no lexicon hits). */
  object LexiconScorer extends SentimentScorer {
    val Positive: Set[String] = Set(
      "good", "great", "love", "excellent", "best", "happy", "win",
      "amazing", "nice", "super", "fast", "clean", "clear", "easy")
    val Negative: Set[String] = Set(
      "bad", "hate", "terrible", "worst", "sad", "fail", "slow",
      "broken", "bug", "error", "crash", "wrong", "hard", "poor")

    def score(text: String): (Double, String, Double) = {
      // Single-space split, NOT a whitespace class: the library-wide
      // tokenization rule (tokHashesSeq, toks, every oracle fragment)
      // splits on ' ' because a regex class literal cannot be spelled
      // portably in both engines' SQL. Keeping the Scala scorer on the
      // same rule means the oracle equivalence holds on ANY input, not
      // just the single-space-tokenized corpus.
      val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
      val p = toks.count(Positive.contains).toDouble
      val n = toks.count(Negative.contains).toDouble
      val raw = if (toks.isEmpty) 0.0 else (p - n) / toks.length
      val s = math.max(-1.0, math.min(1.0, raw))
      val label = if (s > 0.05) "POSITIVE" else if (s < -0.05) "NEGATIVE" else "NEUTRAL"
      val conf = if (p + n == 0) 0.5 else math.abs(p - n) / (p + n)
      (s, label, conf)
    }

    override def scoreBatch(batch: Seq[(String, String)]): Seq[(String, Double, String, Double)] =
      batch.map { case (id, text) =>
        val (s, l, c) = score(text)
        (id, s, l, c)
      }

    // ---- Column form: same math, whole-stage-codegen, SQL-expressible ---
    // Counting runs in ONE native pass ([[graft.plans.MemberCounts]]):
    // [pos_hits, neg_hits, non_empty_tokens] — the declarative
    // size(filter(...isin...)) triple is three interpreted HOF scans per
    // row. Decl forms kept below as parity witnesses (PolyHashSpec).

    /** [p, n, ntok] counts of a text column, one native pass. Tokenizes
      * on the library-wide single-space rule (see [[score]]); empty
      * tokens from leading/trailing/repeated spaces are dropped from
      * ntok — the Scala scorer and the DuckDB fragments both exclude
      * them; counting them in the denominator would silently shift
      * scores. */
    private def countsCol(text: Column): Column =
      graft.plans.MemberCounts.column(split(lower(text), " "),
        Positive.toSeq.sorted, Negative.toSeq.sorted)

    /** (score, label, confidence) columns over a text column. */
    def scoreCol(text: Column): Column = {
      val c = countsCol(text)
      val p = element_at(c, 1).cast("double")
      val n = element_at(c, 2).cast("double")
      val ntok = element_at(c, 3)
      val raw = when(ntok === 0, 0.0).otherwise((p - n) / ntok)
      greatest(lit(-1.0), least(lit(1.0), raw))
    }

    def labelCol(scoreC: Column): Column =
      when(scoreC > 0.05, "POSITIVE").when(scoreC < -0.05, "NEGATIVE").otherwise("NEUTRAL")

    def confidenceCol(text: Column): Column = {
      val c = countsCol(text)
      val p = element_at(c, 1).cast("double")
      val n = element_at(c, 2).cast("double")
      when(p + n === 0, 0.5).otherwise(abs(p - n) / (p + n))
    }

    // Declarative (HOF) forms — parity witnesses only.
    private def hitsDecl(t: Column, words: Set[String]): Column =
      size(filter(t, x => x.isin(words.toSeq.sorted: _*))).cast("double")
    private def tokColDecl(text: Column): Column =
      filter(split(lower(text), " "), x => x =!= "")
    def scoreColDecl(text: Column): Column = {
      val t = tokColDecl(text)
      val p = hitsDecl(t, Positive)
      val n = hitsDecl(t, Negative)
      val raw = when(size(t) === 0, 0.0).otherwise((p - n) / size(t))
      greatest(lit(-1.0), least(lit(1.0), raw))
    }
    def confidenceColDecl(text: Column): Column = {
      val t = tokColDecl(text)
      val p = hitsDecl(t, Positive)
      val n = hitsDecl(t, Negative)
      when(p + n === 0, 0.5).otherwise(abs(p - n) / (p + n))
    }

    /** DuckDB fragments computing identical values (for oracle checks). */
    private def hitsSql(words: Set[String]): String = {
      val lst = words.toSeq.sorted.map(w => s"'$w'").mkString("list_value(", ", ", ")")
      s"CAST(len(list_filter(list_filter(string_split(lower(text), ' '), tt -> tt <> ''), x -> list_contains($lst, x))) AS DOUBLE)"
    }
    // NB: both engines drop empty tokens before counting, so the
    // denominators agree on any input. Split is on a literal single
    // space, not '\s+': a regex literal cannot be spelled portably
    // (Spark string literals eat the backslash, DuckDB's don't), and
    // the corpus is single-space tokenized — runs of whitespace would
    // only produce empty tokens, which the filter drops anyway.
    def scoreSql: String = {
      val ntok = "len(list_filter(string_split(lower(text), ' '), tt -> tt <> ''))"
      s"greatest(-1.0, least(1.0, CASE WHEN $ntok = 0 THEN 0.0 ELSE (${hitsSql(Positive)} - ${hitsSql(Negative)}) / $ntok END))"
    }
    def labelSql(s: String): String =
      s"CASE WHEN $s > 0.05 THEN 'POSITIVE' WHEN $s < -0.05 THEN 'NEGATIVE' ELSE 'NEUTRAL' END"
    def confidenceSql: String =
      s"CASE WHEN ${hitsSql(Positive)} + ${hitsSql(Negative)} = 0 THEN 0.5 " +
        s"ELSE abs(${hitsSql(Positive)} - ${hitsSql(Negative)}) / (${hitsSql(Positive)} + ${hitsSql(Negative)}) END"
  }

  /** Deterministic extractive summarizer: longest prefix of whole
    * sentences (split on ". ") fitting in maxChars; falls back to a hard
    * character cut when the first sentence alone overflows. */
  final case class ExtractiveSummarizer(maxChars: Int = SummaryThreshold) extends Summarizer {
    def summarize(text: String): String = {
      if (text.length <= maxChars) text
      else {
        val sentences = text.split("(?<=\\.)\\s+")
        val sb = new StringBuilder
        var i = 0
        while (i < sentences.length && sb.length + sentences(i).length + (if (sb.isEmpty) 0 else 1) <= maxChars) {
          if (sb.nonEmpty) sb.append(' ')
          sb.append(sentences(i))
          i += 1
        }
        if (sb.isEmpty) text.substring(0, maxChars) else sb.toString
      }
    }
    override def summarizeBatch(batch: Seq[(String, String)]): Seq[(String, String)] =
      batch.map { case (id, text) => (id, summarize(text)) }
  }

  /** Deterministic topic extractor: topic = title minus stopwords (the
    * queryable form); category by first keyword hit, else the reference
    * prompt's catch-all list order (topic_generation.go:123-132). */
  object RuleBasedTopicExtractor extends TopicExtractor {
    val Stop: Set[String] = Set("the", "a", "an", "of", "to", "and", "in", "is", "on", "for", "with", "at", "by")
    val CategoryKeywords: Seq[(String, Set[String])] = Seq(
      "Technology" -> Set("ai", "tech", "software", "chip", "app", "data"),
      "Business & Finance" -> Set("market", "stock", "economy", "bank", "trade"),
      "Politics & World Affairs" -> Set("election", "senate", "war", "government", "policy"),
      "Entertainment & Pop Culture" -> Set("film", "music", "celebrity", "movie", "show"),
      "Health & Science" -> Set("health", "study", "science", "vaccine", "space"),
      "Sports" -> Set("game", "league", "team", "championship", "cup"),
      "Lifestyle & Society" -> Set("travel", "food", "fashion", "culture"),
      "Memes & Internet Trends" -> Set("viral", "meme", "trend"),
      "Crime & Law" -> Set("court", "police", "trial", "crime"))

    def extract(h: Headline): Topic = {
      val words = h.title.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val topic = words.filterNot(Stop.contains).mkString(" ")
      val category = CategoryKeywords
        .collectFirst { case (c, kws) if words.exists(kws.contains) => c }
        .getOrElse("Lifestyle & Society")
      Topic(h.title, topic, category, h.url)
    }
    override def extractBatch(headlines: Seq[Headline]): Seq[Topic] = headlines.map(extract)
  }

  /** Items per enrich call (reference: 10, raw_content_consumer.go:63). */
  val BatchSize = 10

  /** Score one batch with left-join semantics by content_id: a missing
    * score keeps the row zero-valued (sentiment_analysis_consumer.go:66-79).
    * One `scoreBatch` call per group. */
  def scoreGroup(group: Seq[SentimentInput], scorer: SentimentScorer): Seq[SentimentResult] = {
    val scores = scorer.scoreBatch(group.map(si => (si.content_id, si.text)))
      .map(r => r._1 -> r).toMap
    group.map { si =>
      scores.get(si.content_id) match {
        case Some((_, s, l, c)) => SentimentResult(
          si.content_id, si.source, si.topic, si.text, si.metadata,
          si.was_summarized, si.original_text, s, l, c)
        case None => SentimentResult(
          si.content_id, si.source, si.topic, si.text, si.metadata,
          si.was_summarized, si.original_text, 0.0, "", 0.0)
      }
    }
  }

  /** Summarize one batch's long branch: text > threshold (strict, reference
    * raw_content_consumer.go:55) is replaced by its summary; original kept
    * in original_text; was_summarized set. Low-value summaries (empty or
    * identical, summary_consumer.go:100-104) pass through unsummarized.
    * One `summarizeBatch` call per group (empty when no text is long);
    * short rows come first, so the output has the group's size. */
  def summarizeGroup(group: Seq[SentimentInput], summarizer: Summarizer): Seq[SentimentInput] = {
    val (long, short) = group.partition(_.text.length > SummaryThreshold)
    val summaries = summarizer.summarizeBatch(long.map(si => (si.content_id, si.text))).toMap
    short ++ long.map { si =>
      summaries.get(si.content_id).filter(su => su.nonEmpty && su != si.text) match {
        case Some(su) => si.copy(text = su, original_text = si.text, was_summarized = true)
        case None     => si
      }
    }
  }

  /** mapPartitions wiring of [[scoreGroup]] in batches of `batchSize`. */
  def scoreDataset(ds: Dataset[SentimentInput], scorer: SentimentScorer,
      batchSize: Int = BatchSize): Dataset[SentimentResult] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap(scoreGroup(_, scorer)))
  }

  /** mapPartitions wiring of [[summarizeGroup]] in batches of `batchSize`. */
  def summarizeDataset(ds: Dataset[SentimentInput], summarizer: Summarizer,
      batchSize: Int = BatchSize): Dataset[SentimentInput] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap(summarizeGroup(_, summarizer)))
  }
}

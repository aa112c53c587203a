package graft.pipeline

import graft.enrich.Enrich._
import graft.schema.Models._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** The reference's three entry points (SURVEY.md §3) as composable,
  * source-agnostic dataset transforms. Each is a pure function from typed
  * Datasets to typed Datasets — bind them to batch fixtures in tests or to
  * streaming sources (foreachBatch) in deployment; there is no separate
  * streaming codebase.
  */
object Pipelines {

  /** §3.3 topic-generator: headlines → batched extraction (100/batch,
    * topic_generation.go:43) → drop empty URLs + in-batch URL dedup
    * keep-first (T19, topic_generation.go:202-216) → anti-join against the
    * stored snapshot (T20, topic_generation.go:219-236). */
  def topicGen(headlines: Dataset[Headline], stored: Dataset[Topic],
      extractor: TopicExtractor = RuleBasedTopicExtractor): Dataset[Topic] = {
    import headlines.sparkSession.implicits._
    val extracted = headlines.mapPartitions { it =>
      it.grouped(100).flatMap(batch => extractor.extractBatch(batch.toSeq))
    }
    val deduped = extracted
      .filter(col("url") =!= "")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("url").orderBy("title")))
      .filter(col("rn") === 1)
      .drop("rn")
      .as[Topic]
    deduped.join(stored, Seq("url"), "left_anti").as[Topic]
  }

  /** §3.1 producer/ingest: posts → empty-text filter (T6, fetch.go:157) →
    * dedup by (topic, id) keep-first (T7 Valkey set semantics; batch dual
    * of dropDuplicatesWithinWatermark) → RawContent projection with
    * content_id = hex(sha256("topic:reddit:post_id")) (T5/T8,
    * fetch.go:178-198). */
  def ingest(posts: Dataset[RedditPost]): Dataset[RawContent] = {
    import posts.sparkSession.implicits._
    posts
      // blank = nothing left after stripping U+0000..U+0020 (Scala's
      // String.trim); Spark's trim strips only spaces, so a tab- or
      // newline-only post would pass it. The kept text is not changed.
      .filter(col("post_content").rlike("[^\\x00-\\x20]"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("topic", "id")
          // content tiebreak: equal-timestamp duplicates must keep the
          // SAME row every run, or downstream text/scoring output flaps
          .orderBy(col("created_at"), col("post_content"))))
      .filter(col("rn") === 1)
      .select(
        sha2(concat_ws(":", col("topic"), lit("reddit"), col("id")), 256).as("content_id"),
        lit("reddit").as("source"),
        col("topic"),
        col("post_content").as("text"),
        struct(
          col("created_at").as("timestamp"),
          col("author"),
          col("subreddit"),
          col("id").as("post_id"),
          lit(null).cast("string").as("url")).as("metadata"))
      .as[RawContent]
  }

  /** §3.2 router + scoring: RawContent → SentimentInput (T9,
    * raw_to_sa_input.go:7-13) → summarize the long branch (T10/T12/T14) →
    * lexicon-score (T15) with left-join-by-content_id semantics (T16).
    * One typed pass: each batch of [[BatchSize]] rows is summarized and
    * then scored by the same kernels as `scoreDataset(summarizeDataset(..))`.
    * Summarizing keeps a batch's size, so the scorer sees the same batches
    * the two-pass form gives it. */
  def score(raw: Dataset[RawContent],
      summarizer: Summarizer = ExtractiveSummarizer(),
      scorer: SentimentScorer = LexiconScorer): Dataset[SentimentResult] = {
    import raw.sparkSession.implicits._
    raw.mapPartitions(_.grouped(BatchSize).flatMap { group =>
      val inputs = group.map(rc => SentimentInput(
        rc.content_id, rc.source, rc.topic, rc.text, rc.metadata,
        was_summarized = false, original_text = null))
      scoreGroup(summarizeGroup(inputs, summarizer), scorer)
    })
  }

  /** End-to-end: ingest → route/summarize → score. */
  def endToEnd(posts: Dataset[RedditPost]): Dataset[SentimentResult] =
    score(ingest(posts))
}

package graft

import java.sql.Timestamp

import graft.enrich.Enrich._
import graft.pipeline.Pipelines
import graft.schema.Models._
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import scala.jdk.CollectionConverters._

/** Enrichment traits (T12/T15/T17) + pipeline assembly (§3). */
class EnrichSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2024-01-01 00:09:58")

  test("lexicon scorer: Scala form and Column form agree on every document") {
    val docs = Tables(spark, Sf0001, "documents").select("doc_id", "text").as[(Long, String)]
    val colSide = docs.toDF()
      .select(col("doc_id"), LexiconScorer.scoreCol(col("text")).as("s"),
        LexiconScorer.confidenceCol(col("text")).as("c"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    docs.collect().foreach { case (id, text) =>
      val (s, _, c) = LexiconScorer.score(text)
      assert(colSide(id) == ((s, c)), s"doc $id")
    }
  }

  test("scorer labels: thresholds at ±0.05 are strict") {
    assert(LexiconScorer.score("good good bad bad")._2 == "NEUTRAL") // score 0
    // 1 pos in 20 tokens = exactly 0.05 -> NEUTRAL (strict >)
    val twenty = ("good " + "x " * 19).trim
    assert(LexiconScorer.score(twenty)._1 == 0.05)
    assert(LexiconScorer.score(twenty)._2 == "NEUTRAL")
    assert(LexiconScorer.score("good x")._2 == "POSITIVE")
    assert(LexiconScorer.score("bad x")._2 == "NEGATIVE")
  }

  test("summarizer: threshold is strict > 1024 (reference boundary)") {
    val s1024 = "a" * 1024
    val s1025 = "b" * 1025
    val sm = ExtractiveSummarizer()
    assert(sm.summarize(s1024) == s1024) // untouched at exactly 1024
    assert(sm.summarize(s1025).length <= 1024) // hard cut (no sentence breaks)
    val sentences = (1 to 60).map(i => s"Sentence number $i ends here.").mkString(" ")
    val sum = sm.summarize(sentences)
    assert(sum.length <= 1024 && sum.endsWith("."), "prefix of whole sentences")
  }

  test("summarizeDataset routes only the long branch and keeps originals") {
    val meta = ContentMetadata(ts, "a", "s", "p", null)
    val mk = (id: String, text: String) =>
      SentimentInput(id, "reddit", "t", text, meta, was_summarized = false, original_text = null)
    val longText = (1 to 80).map(i => s"This is sentence $i of the long post.").mkString(" ")
    val in = Seq(mk("short", "tiny text"), mk("long", longText)).toDS()
    val out = summarizeDataset(in, ExtractiveSummarizer()).collect().map(r => r.content_id -> r).toMap
    assert(!out("short").was_summarized && out("short").original_text == null)
    assert(out("long").was_summarized)
    assert(out("long").original_text == longText)
    assert(out("long").text.length <= 1024)
  }

  test("scoreDataset: missing score keeps row zero-valued (T16 left-join)") {
    val meta = ContentMetadata(ts, "a", "s", "p", null)
    val in = Seq(SentimentInput("id1", "reddit", "t", "good day", meta, false, null)).toDS()
    val dropping = new SentimentScorer {
      override def scoreBatch(b: Seq[(String, String)]) = Seq.empty // model returned nothing
    }
    val out = scoreDataset(in, dropping).collect()
    assert(out.length == 1 && out.head.sentiment_score == 0.0 && out.head.sentiment_label == "")
  }

  test("topicGen: URL dedup keep-first + anti-join against stored (T19/T20)") {
    val hs = Seq(
      Headline("AI chips win big", "http://u1"),
      Headline("AI chips win big again", "http://u1"), // dup URL
      Headline("Markets rally", "http://u2"),
      Headline("Old news", "http://stored")).toDS()
    val stored = Seq(Topic("Old news", "old news", "Technology", "http://stored")).toDS()
    val out = Pipelines.topicGen(hs, stored).collect()
    assert(out.map(_.url).sorted.toSeq == Seq("http://u1", "http://u2"))
    val t1 = out.find(_.url == "http://u1").get
    assert(t1.title == "AI chips win big") // keep-first by title ordering
    assert(t1.category == "Technology")
  }

  test("ingest: empty-text filter, dedup, sha256 content id (T5/T6/T7/T8)") {
    val posts = Seq(
      RedditPost("ai", "technology", "u1", "t", "content here", 5, ts, "p1"),
      RedditPost("ai", "technology", "u2", "t", "  ", 1, ts, "p2"), // empty -> dropped
      RedditPost("ai", "technology", "u3", "t", "dup content", 2, ts, "p1") // dup (topic,id)
    ).toDS()
    val out = Pipelines.ingest(posts).collect()
    assert(out.length == 1)
    val expectedId = java.security.MessageDigest.getInstance("SHA-256")
      .digest("ai:reddit:p1".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.head.content_id == expectedId)
    assert(out.head.metadata.post_id == "p1")
  }

  test("endToEnd pipeline produces scored, labeled results") {
    val posts = Seq(
      RedditPost("ai", "technology", "u1", "t", "this is a good great excellent thing", 5, ts, "p1"),
      RedditPost("ai", "technology", "u2", "t", "terrible bad broken mess of a thing", 2, ts, "p2")).toDS()
    val out = Pipelines.endToEnd(posts).collect().map(r => r.metadata.post_id -> r).toMap
    assert(out("p1").sentiment_label == "POSITIVE")
    assert(out("p2").sentiment_label == "NEGATIVE")
    assert(out.values.forall(r => !r.was_summarized))
  }

  test("Pipelines.score equals scoreDataset(summarizeDataset(..)) row for row, call for call") {
    val meta = ContentMetadata(ts, "a", "s", "p", null)
    val long = (1 to 60).map(i => s"Sentence $i is good or bad.").mkString(" ")
    val raw = (0 until 57).map { i =>
      val text = if (i % 3 == 0) s"$long tail $i" else s"short good post $i"
      RawContent(f"id$i%02d", "reddit", "t", text, meta)
    }.toDS().coalesce(2) // partitions longer than a batch, each with a short tail
    // both forms must call the enrich models with the same batches
    def sizes(tag: String) = spark.sparkContext.collectionAccumulator[Int](tag)
    val (fs, fc, ss, sc) = (sizes("fs"), sizes("fc"), sizes("ss"), sizes("sc"))
    val fused = Pipelines.score(raw, EnrichSpec.LowValueSummarizer(fs),
      EnrichSpec.DroppingScorer(fc)).collect().toSeq
    val inputs = raw.map(rc => SentimentInput(rc.content_id, rc.source, rc.topic, rc.text,
      rc.metadata, was_summarized = false, original_text = null))
    val split = scoreDataset(summarizeDataset(inputs, EnrichSpec.LowValueSummarizer(ss)),
      EnrichSpec.DroppingScorer(sc)).collect().toSeq
    assert(fused == split)
    assert(fused.map(_.content_id).sorted == raw.collect().map(_.content_id).toSeq.sorted)
    assert(fused.exists(r => r.sentiment_label == "" && r.sentiment_score == 0.0), "zero fill")
    assert(fused.exists(_.was_summarized), "a real summary is kept")
    assert(fused.filter(r => r.content_id.endsWith("0") || r.content_id.endsWith("1"))
      .forall(!_.was_summarized), "empty and identical summaries pass through")
    def calls(a: CollectionAccumulator[Int]) =
      a.value.asScala.toSeq.map(_.intValue).sorted
    assert(calls(fs) == calls(ss) && calls(fc) == calls(sc))
    assert(calls(fc).sum == 57 && (calls(fs) ++ calls(fc)).forall(_ <= BatchSize))
  }
}

object EnrichSpec {
  /** Summarizer with every low-value branch: ids ending in 0 get an empty
    * summary, ids ending in 1 the text itself, the rest a real summary.
    * Records each call's batch size. */
  final case class LowValueSummarizer(sizes: CollectionAccumulator[Int]) extends Summarizer {
    override def summarizeBatch(b: Seq[(String, String)]): Seq[(String, String)] = {
      sizes.add(b.size)
      b.map { case (id, text) =>
        id -> (if (id.endsWith("0")) "" else if (id.endsWith("1")) text
          else ExtractiveSummarizer().summarize(text))
      }
    }
  }

  /** Scorer that returns nothing for ids ending in 2 or 5 (the zero-fill
    * path). Records each call's batch size. */
  final case class DroppingScorer(sizes: CollectionAccumulator[Int]) extends SentimentScorer {
    override def scoreBatch(b: Seq[(String, String)]): Seq[(String, Double, String, Double)] = {
      sizes.add(b.size)
      LexiconScorer.scoreBatch(b.filterNot(p => p._1.endsWith("2") || p._1.endsWith("5")))
    }
  }
}

package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import graft.enrich.Enrich
import graft.enrich.Enrich.{ExtractiveSummarizer, LexiconScorer, SentimentScorer, Summarizer}
import graft.pipeline.Pipelines
import graft.schema.Models
import graft.schema.Models.{RedditPost, SentimentInput}
import graft.sources.Sources
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

/** Counters of the enrich calls, filled by the timing wrappers below. */
final class EnrichCounters(val sumCalls: LongAccumulator, val sumItems: LongAccumulator,
    val sumKept: LongAccumulator, val scoreCalls: LongAccumulator,
    val scoreItems: LongAccumulator) extends Serializable

object EnrichCounters {
  def apply(spark: SparkSession): EnrichCounters = {
    def acc(n: String) = spark.sparkContext.longAccumulator(s"perfbench.$n")
    new EnrichCounters(acc("sumCalls"), acc("sumItems"), acc("sumKept"), acc("scoreCalls"),
      acc("scoreItems"))
  }
}

/** Counts summarizer calls, items and summaries the pipeline will keep
  * (non-empty and different from the text, the rule of
  * `Enrich.summarizeDataset`). */
final case class CountingSummarizer(inner: Summarizer, c: EnrichCounters) extends Summarizer {
  override def summarizeBatch(batch: Seq[(String, String)]): Seq[(String, String)] = {
    val out = inner.summarizeBatch(batch)
    val text = batch.toMap
    c.sumCalls.add(1); c.sumItems.add(batch.size)
    c.sumKept.add(out.count { case (id, su) => su.nonEmpty && !text.get(id).contains(su) })
    out
  }
}

final case class CountingScorer(inner: SentimentScorer, c: EnrichCounters) extends SentimentScorer {
  override def scoreBatch(batch: Seq[(String, String)]): Seq[(String, Double, String, Double)] = {
    c.scoreCalls.add(1); c.scoreItems.add(batch.size)
    inner.scoreBatch(batch)
  }
}

/** One micro-batch's progress, from the StreamingQueryListener. */
final case class Progress(batchId: Long, startS: Double, durS: Double, rows: Long,
    planS: Double, commitS: Double, tag: String = "") {
  def spanId: String = Progress.spanId(tag, batchId)
  def endS: Double = startS + durS
}

object Progress {
  /** The id of a batch's span; `tag` tells apart the queries of a phase. */
  def spanId(tag: String, batchId: Long): String = s"batch-$tag-$batchId"
}

final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[(java.util.UUID, Progress)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0) / 1e3
    events.add(p.id -> Progress(p.batchId, Instant(p.timestamp), ms("triggerExecution"),
      p.numInputRows, ms("latestOffset") + ms("getBatch") + ms("queryPlanning"),
      ms("walCommit") + ms("commitOffsets")))
  }
  /** The batches of query `q` that read input, in batch order. */
  def of(q: StreamingQuery): Seq[Progress] =
    events.asScala.collect { case (id, p) if id == q.id && p.rows > 0 => p }.toSeq.sortBy(_.batchId)

  private def Instant(ts: String): Double = java.time.Instant.parse(ts).toEpochMilli / 1e3
}

/** The sentiflow lane: Kafka-wire JSON files → `Sources.fromWire` →
  * `Pipelines.ingest` → summarise + score → `Sources.upsertWithTtl`, one
  * `foreachBatch` per micro-batch. Untraced, the body is the pipeline as a
  * deployment runs it (`Pipelines.score`). Traced, it materialises each
  * layer's output in turn (summarise and score as their own steps, through
  * `Enrich.summarizeDataset` / `Enrich.scoreDataset` with counting wrappers),
  * so each layer is one span. */
final class Lane(spark: SparkSession, tr: Tracer, counters: EnrichCounters) {
  import spark.implicits._

  private def mat[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val c = ds.persist()
    (c, c.count())
  }

  /** Rows offered to the sink, over all traced batches. */
  @volatile var offered = 0L
  @volatile var parsedRows = 0L
  @volatile var keptRows = 0L
  /** Set before each query start; see [[Progress.spanId]]. */
  @volatile var tag = ""

  def batch(df: DataFrame, id: Long, sink: String): Unit = {
    val posts = Sources.fromWire(df, Models.redditPostSchema, "id").as[RedditPost]
    if (!tr.on)
      Sources.upsertWithTtl(Pipelines.score(Pipelines.ingest(posts)).toDF, sink, "content_id")
    else {
      val p = Progress.spanId(tag, id)
      val (parsed, nIn) = tr.span("sources.fromWire", p)(mat(posts))
      val (raw, nKept) = tr.span("pipeline.ingest", p)(mat(Pipelines.ingest(parsed)))
      val (inputs, _) = tr.span("enrich.summarize", p)(mat(Enrich.summarizeDataset(
        raw.map(rc => SentimentInput(rc.content_id, rc.source, rc.topic, rc.text, rc.metadata,
          was_summarized = false, original_text = null)),
        CountingSummarizer(ExtractiveSummarizer(), counters))))
      val (scored, nOut) = tr.span("enrich.score", p)(mat(Enrich.scoreDataset(inputs,
        CountingScorer(LexiconScorer, counters))))
      tr.span("sources.upsert", p)(Sources.upsertWithTtl(scored.toDF, sink, "content_id"))
      Seq(parsed, raw, inputs, scored).foreach(_.unpersist())
      parsedRows += nIn; keptRows += nKept; offered += nOut
    }
  }

  def start(inDir: String, sink: String, ckpt: String, trigger: Trigger,
      filesPerTrigger: Int): StreamingQuery =
    Streaming.jsonFileSource(spark, inDir, Lane.WireSchema, filesPerTrigger)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) => batch(df, id, sink) }
      .start()
}

object Lane {
  val WireSchema: StructType = StructType.fromDDL("key STRING, value STRING, sched_ms BIGINT")

  def writeFile(dir: Path, f: WireFile): Unit = Files.write(dir.resolve(f.name), f.bytes)

  /** Land `f` in `dir` atomically (written beside it, then renamed), so
    * the file source never lists a partial file. */
  def land(staging: Path, dir: Path, f: WireFile): Unit = {
    val tmp = staging.resolve(f.name)
    Files.write(tmp, f.bytes)
    Files.move(tmp, dir.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Which batch took each input file, from the checkpoint's source log
    * (plain and compacted entries alike). Keyed by file name. */
  def batchOfFile(ckpt: String): Map[String, Long] = {
    val dir = java.nio.file.Paths.get(ckpt, "sources", "0")
    val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .collect { case Entry(path, b) => path.substring(path.lastIndexOf('/') + 1) -> b.toLong }
      .toMap
  }

  val CheckCols: Seq[String] = Seq("content_id", "was_summarized", "sentiment_label", "sentiment_score")

  /** Sink check: the number of rows that are missing, extra, written more
    * than once or differ from `expected` in content_id, was_summarized,
    * label or score. One job. */
  def checkSink(spark: SparkSession, sink: String, expected: DataFrame): Long =
    spark.read.parquet(sink).groupBy(CheckCols.map(col): _*).agg(count(lit(1)).as("n"))
      .join(expected.withColumn("e", lit(1)), CheckCols, "full_outer")
      .filter(col("n").isNull || col("e").isNull || col("n") =!= 1)
      .count()

  /** The batch reference: `Pipelines.endToEnd` over the same posts, and how
    * far its row count is from one row per distinct (topic, id) among the
    * non-blank posts. */
  def expected(spark: SparkSession, posts: Seq[RedditPost]): (DataFrame, Long) = {
    import spark.implicits._
    val e = Pipelines.endToEnd(spark.createDataset(posts)).select(CheckCols.map(col): _*).persist()
    val distinct = posts.filter(_.post_content.trim.nonEmpty).map(p => (p.topic, p.id)).distinct.size
    (e, math.abs(e.count() - distinct))
  }

  /** `expected` cut down to the content ids of the non-blank `posts`
    * (hex sha256 of "topic:reddit:id", the reference's content-id rule). */
  def restrict(spark: SparkSession, expected: DataFrame, posts: Seq[RedditPost]): DataFrame = {
    import spark.implicits._
    def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
    val ids = posts.filter(_.post_content.trim.nonEmpty).map(p => sha(s"${p.topic}:reddit:${p.id}"))
    expected.join(ids.distinct.toDF("content_id"), Seq("content_id"), "left_semi")
  }

  /** Malformed records must be dropped by `fromWire`: the parsed count of
    * all input lines must equal the well-formed records generated. Returns
    * the number of records off. */
  def checkFromWire(spark: SparkSession, inDir: String, wellFormed: Long): Long = {
    val n = Sources.fromWire(spark.read.schema(WireSchema).json(inDir),
      Models.redditPostSchema, "id").count()
    math.abs(n - wellFormed)
  }

  def park(untilS: Double, clock: () => Double): Unit = {
    var left = untilS - clock()
    while (left > 0) { LockSupport.parkNanos((left * 1e9).toLong); left = untilS - clock() }
  }
}

package graft

/** Local smoke runner mirroring the driver's t1 check: SparkEntry.entry
  * must return >0 rows on sf0.001. Prints the rows for eyeballing. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(10).foreach(r => println(s"[smoke] $r"))
    assert(rows.nonEmpty, "entry() returned 0 rows")

    // End-to-end pipeline: ingest → route/summarize → lexicon-score.
    import spark.implicits._
    import graft.schema.Models._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:09:58")
    val posts = Seq(
      RedditPost("ai", "technology", "u1", "t", "a good great excellent release", 5, ts, "p1"),
      RedditPost("ai", "technology", "u2", "t", ("A long broken terrible mess. " * 60).trim, 2, ts, "p2"))
      .toDS()
    val scored = graft.pipeline.Pipelines.endToEnd(posts).collect()
    scored.foreach(r => println(s"[smoke] pipeline ${r.metadata.post_id} " +
      s"label=${r.sentiment_label} summarized=${r.was_summarized} score=${r.sentiment_score}"))
    assert(scored.length == 2)

    // Streaming: tumbling counts over a file stream, AvailableNow.
    val dir = java.nio.file.Files.createTempDirectory("graft_smoke_").toFile.getAbsolutePath
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").json(s"$dir/in")
    val src = graft.streaming.Streaming.jsonFileSource(spark, s"$dir/in",
      org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"),
      maxFilesPerTrigger = 100)
    val q = graft.streaming.Streaming.tumblingCounts(src)
      .writeStream.format("memory").queryName("smoke_counts").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val n = spark.table("smoke_counts").count()
    println(s"[smoke] streaming windows=$n")
    assert(n > 0, "streaming produced no windows")

    // Streaming throughput (BASELINE.md SLO row): push the sf0.1 events
    // table (100k rows) through the windowed aggregation as a file stream.
    val tDir = java.nio.file.Files.createTempDirectory("graft_rate_").toFile.getAbsolutePath
    val events = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
    events.write.mode("overwrite").json(s"$tDir/in")
    val nRows = events.count() // measure what was actually pushed
    val t0 = System.nanoTime()
    val q2 = graft.streaming.Streaming.tumblingCounts(
      graft.streaming.Streaming.jsonFileSource(spark, s"$tDir/in",
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"),
        maxFilesPerTrigger = 1000))
      .writeStream.format("memory").queryName("smoke_rate").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[smoke] streaming_rate rows=$nRows secs=$secs%.2f rows_per_sec=${nRows / secs}%.0f")
    spark.stop()
  }
}

package graft

import java.nio.file.Files

import graft.schema.Models
import graft.pipeline.Pipelines
import graft.schema.Models._
import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Sources + TTL tables + Kafka wire serde (S1/S2/S6, K1/K3/K4, T1/T2). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("headline source reads fixed schema JSON lines (S1/S2)") {
    val dir = tmp("graft_heads_")
    Files.writeString(java.nio.file.Paths.get(dir, "newsapi.jsonl"),
      """{"title": "Markets rally on chip news", "url": "http://u1"}
        |{"title": "Cup final tonight", "url": "http://u2"}
        |""".stripMargin)
    val hs = Sources.headlines(spark, dir).collect()
    assert(hs.toSet == Set(Headline("Markets rally on chip news", "http://u1"),
      Headline("Cup final tonight", "http://u2")))
  }

  test("TTL table: append dedups on PK; read hides expired rows and upserts by PK (K3/K4/S6)") {
    val table = tmp("graft_ttl_") + "/topics"
    val t1 = Seq(
      Topic("A", "a", "Technology", "http://u1"),
      Topic("A dup", "a2", "Technology", "http://u1"), // same PK in one batch
      Topic("B", "b", "Sports", "http://u2")).toDF()
    Sources.appendWithTtl(t1, table, "url")
    // second batch upserts u2 (later expires_at wins on read)
    Sources.appendWithTtl(Seq(Topic("B v2", "b2", "Sports", "http://u2")).toDF(), table, "url")
    val cur = Sources.readCurrent(spark, table, "url")
    assert(cur.count() == 2)
    assert(cur.filter(col("url") === "http://u2").select("title").as[String].head() == "B v2")
    // expired rows disappear
    val expired = spark.read.parquet(table)
      .withColumn("expires_at", current_timestamp() - expr("INTERVAL 1 HOURS"))
    expired.write.mode("overwrite").parquet(table + "_exp")
    assert(Sources.readCurrent(spark, table + "_exp", "url").count() == 0)
  }

  test("partitioned TTL table: partition predicate prunes directories at the scan") {
    val table = tmp("graft_part_") + "/events_t"
    val df = Tables(spark, Sf0001, "events")
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
    Sources.appendWithTtl(df, table, "event_id", partitionCols = Seq("day"))
    val days = new java.io.File(table).listFiles().count(_.getName.startsWith("day="))
    assert(days > 1, "expected one directory per day")
    val q = spark.read.parquet(table).filter(col("day") === "2024-01-02")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(day"), s"no partition filter:\n$scan")
    assert(q.count() > 0)
  }

  test("Kafka wire round-trip: key=content_id, JSON value, malformed dropped (T1/T2/K1)") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:09:58")
    val raw = Seq(RawContent("cid1", "reddit", "ai", "text body",
      ContentMetadata(ts, "auth", "sub", "p1", null))).toDS()
    val wire = Sources.toWire(raw.toDF(), "content_id")
    assert(wire.columns.toSeq == Seq("key", "value"))
    assert(wire.select("key").as[String].head() == "cid1")
    val withJunk = wire.unionByName(Seq(("junk", "not json")).toDF("key", "value"))
    val back = Sources.fromWire(withJunk, Models.rawContentSchema, "content_id")
    val rows = back.as[RawContent].collect()
    assert(rows.length == 1 && rows.head == raw.head())
  }

  test("upsert sink contract: missing table, unexpired skip, expired rewrite, in-batch dup") {
    val table = tmp("graft_upsert_") + "/t"
    def rows(pk: String) = spark.read.parquet(table).filter(col("pk") === pk)
      .select("v").as[String].collect().toSeq.sorted
    // missing table: plain append, a pk repeated inside the batch written once
    Sources.upsertWithTtl(Seq(("k1", "a"), ("k1", "a"), ("k2", "b")).toDF("pk", "v"), table, "pk")
    assert(rows("k1") == Seq("a") && rows("k2") == Seq("b"))
    // an unexpired stored pk is skipped; a new pk is written
    Sources.upsertWithTtl(Seq(("k1", "a2"), ("k3", "c")).toDF("pk", "v"), table, "pk")
    assert(rows("k1") == Seq("a") && rows("k3") == Seq("c"))
    // a pk whose only row has expired is written again, and reads as the new row
    Sources.appendWithTtl(Seq(("k4", "old")).toDF("pk", "v"), table, "pk", ttlHours = -1)
    Sources.upsertWithTtl(Seq(("k4", "new"), ("k4", "new")).toDF("pk", "v"), table, "pk")
    assert(rows("k4") == Seq("new", "old"))
    val cur = Sources.readCurrent(spark, table, "pk").select("pk", "v").as[(String, String)]
    assert(cur.collect().toMap == Map("k1" -> "a", "k2" -> "b", "k3" -> "c", "k4" -> "new"))
    // the probe's key set is readCurrent's, read key-only and without a window
    val probe = Sources.liveKeys(spark, table, Seq("x").toDF("pk").schema("pk"))
    assert(probe.as[String].collect().toSet ==
      Sources.readCurrent(spark, table, "pk").select("pk").as[String].collect().toSet)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<pk:string,expires_at:timestamp>"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("fromWire parses each record once; malformed and null-required rows dropped (T1)") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:09:58")
    val ok = RedditPost("ai", "technology", "u1", "t", "some text", 3, ts, "p1")
    val blank = ok.copy(post_content = "   ", id = "p2")
    val noId = ok.copy(id = null)
    val wire = Sources.toWire(Seq(ok, blank, noId).toDF(), "id")
      .unionByName(Seq(("junk", "not json"), ("cut", "{\"topic\": \"ai\", \"id\"")).toDF("key", "value"))
    val posts = Sources.fromWire(wire, Models.redditPostSchema, "id").as[RedditPost]
    assert(posts.collect().toSet == Set(ok, blank))
    val ingested = Pipelines.ingest(posts)
    val plan = ingested.queryExecution.executedPlan.toString
    assert("from_json\\(".r.findAllIn(plan).size == 1, plan)
    assert(ingested.collect().map(_.metadata.post_id).toSeq == Seq("p1"))
  }
}

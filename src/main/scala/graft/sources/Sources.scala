package graft.sources

import graft.schema.Models
import graft.schema.Models._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}

/** Batch sources and TTL'd table sinks (reference S1/S2/S6 + K3/K4).
  *
  * The engine's durable tables mirror the reference's DynamoDB usage:
  * primary-key upsert on append (dedup before write) and a TTL column
  * filtered at read (`expires_at`), exactly the `Topics` /
  * `SentimentResults` contract (db/dynamodb.go:17-20,34,201). Parquet at
  * rest; at scale these are partitioned directories whose PK-dedup runs
  * per micro-batch (25-row write chunking is a connector concern —
  * [[graft.streaming.Streaming.foreachBatchSink]]).
  */
object Sources {

  /** Path existence via the path's OWN filesystem (s3a/hdfs/file) — a
    * java.io.File check is always false off the local disk. Shared by
    * every table/index existence probe in the library. */
  def fsExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** S1/S2 — NewsAPI-shaped headline source: fixed schema (never
    * inferred), one JSON-lines file or directory; the reference's own
    * offline path reads `./data/newsapi.json`
    * (clients/newsapi_client.go:279-297). A `category` column, when
    * present, mirrors the per-category fetch loop union (S1). */
  def headlines(spark: SparkSession, path: String): Dataset[Headline] = {
    import spark.implicits._
    spark.read.schema(Models.headlineSchema).json(path).as[Headline]
  }

  def topics(spark: SparkSession, path: String): Dataset[Topic] = {
    import spark.implicits._
    spark.read.schema(Models.topicSchema).json(path).as[Topic]
  }

  /** K3/K4 — append a batch to a TTL'd parquet table with PK-upsert
    * semantics: rows are deduped on `pk` (keep-first by the table's sort)
    * before append; TTL column stamped `now + ttlHours`. At scale pass
    * `partitionCols` (e.g. an event-day column) so reads with a partition
    * predicate prune whole directories at the scan. */
  def appendWithTtl(df: DataFrame, table: String, pk: String, ttlHours: Int = 24,
      partitionCols: Seq[String] = Nil): Unit = {
    val stamped = df.dropDuplicates(pk)
      .withColumn("expires_at",
        current_timestamp() + expr(s"INTERVAL $ttlHours HOURS"))
    val writer = stamped.write.mode("append")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(table)
  }

  /** K3/T7 — idempotent upsert: like [[appendWithTtl]] but rows whose PK
    * already exists (unexpired) in the table are skipped first — the
    * reference's check-Valkey-before-publish flow
    * (producer/fetch.go:155-173) and the write discipline that makes
    * at-least-once streaming delivery exactly-once-by-key at the store.
    * The skip set is [[liveKeys]], not `readCurrent(...).select(pk)`: the
    * same keys without the keep-latest window. */
  def upsertWithTtl(df: DataFrame, table: String, pk: String, ttlHours: Int = 24): Unit = {
    // fsExists: a local-File check would silently skip the anti-join and
    // degrade upsert to plain append on non-local schemes
    val fresh =
      if (fsExists(df.sparkSession, table))
        df.join(liveKeys(df.sparkSession, table, df.schema(pk)), Seq(pk), "left_anti")
      else df
    appendWithTtl(fresh, table, pk, ttlHours)
  }

  /** The keys of a TTL'd table that have an unexpired row: a key-only
    * probe reading `(pk, expires_at)` under an explicit schema (no
    * schema-inference job), TTL-filtered, projected to the key. It needs
    * no keep-latest window: a key has a surviving [[readCurrent]] row
    * exactly when it has ANY unexpired row, so this key set equals
    * `readCurrent(...).select(pk)` without a shuffle and sort of the
    * whole (ever-growing) table. May repeat a key. */
  private[graft] def liveKeys(spark: SparkSession, table: String, pk: StructField): DataFrame =
    spark.read.schema(StructType(Seq(pk, StructField("expires_at", TimestampType))))
      .parquet(table)
      .filter(col("expires_at") > current_timestamp())
      .select(pk.name)

  /** S6 — snapshot read of a TTL'd table: expired rows are invisible, and
    * PK-dedup keeps the LATEST surviving row (upsert read semantics). The
    * TTL filter prunes at scan time; the keep-latest window shuffles on
    * the PK — the same key the table is written by. The window picks ONE
    * row per key; a read that only asks which keys survive
    * ([[liveKeys]], the [[upsertWithTtl]] probe) does not need it. */
  def readCurrent(spark: SparkSession, table: String, pk: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.read.parquet(table)
      .filter(col("expires_at") > current_timestamp())
      .withColumn("__rn", row_number().over(
        Window.partitionBy(pk).orderBy(col("expires_at").desc)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** T2/K1 — serialize a DataFrame to Kafka wire shape: `key` =
    * partitioning column (content_id: per-content ordering,
    * kafka_client/producer.go:119-131), `value` = JSON of all columns. The
    * result writes to any Kafka sink (`.format("kafka")`) or a file for
    * offline tests. */
  def toWire(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** T1 — parse Kafka wire rows back to typed columns; malformed value →
    * null struct, dropped (drop-on-parse-failure,
    * utils/kafka_helpers.go:18-26 + raw_content_consumer.go:42-44).
    *
    * The parsed struct is expanded by a generator (`inline` of a
    * one-element array) rather than a projection: filters on its fields —
    * the required-field check here, ingest's text filter downstream —
    * cannot be pushed below a Generate, so `from_json` runs once per
    * record instead of once per filter that references it. A null struct
    * inlines to an all-null row, which the required-field check drops. */
  def fromWire(df: DataFrame, schema: StructType, requiredField: String): DataFrame =
    df.select(inline(array(from_json(col("value").cast("string"), schema))))
      .filter(col(requiredField).isNotNull)
}

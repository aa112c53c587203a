package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusShim
import org.apache.spark.sql.DataFrame

/** [[Tables]] infers each table's schema once per process and reopens it
  * with that schema pinned. These cases pin the memo's key: an unchanged
  * table reopens with no job; a rewritten file or an added part file
  * re-keys; the parquet settings of the session are part of the key; and
  * the footer row count agrees with a scan. */
class TablesSchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft_memo_").toFile.getAbsolutePath

  /** The Spark jobs `body` starts, counted after every event so far is
    * delivered. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val group = "memo-" + java.util.UUID.randomUUID()
    spark.sparkContext.setJobGroup(group, "schema memo check")
    val a = try body finally spark.sparkContext.clearJobGroup()
    ListenerBusShim.drain(spark.sparkContext)
    (a, spark.sparkContext.statusTracker.getJobIdsForGroup(group).length)
  }

  /** `df` as ONE parquet file at `\$dir/\$name.parquet`, the testdata layout. */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val staging = tmpDir()
    df.coalesce(1).write.mode("overwrite").parquet(s"$staging/t")
    val part = new java.io.File(s"$staging/t").listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Qh.deleteTree(new java.io.File(staging))
  }

  test("a second open of an unchanged table runs no job") {
    val d = tmpDir()
    writeFile((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"), d, "t")
    val (_, first) = jobsOf(Tables(spark, d, "t").schema)
    assert(first >= 1, "the first open infers the schema with a job")
    val (schema, again) = jobsOf(Tables(spark, d, "t").schema)
    assert(again == 0, s"the memoised open started $again job(s)")
    assert(schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("a rewritten file re-infers and its new rows are read") {
    val d = tmpDir()
    writeFile((1L to 3L).map(i => (i, s"v$i")).toDF("id", "v"), d, "t")
    assert(Tables(spark, d, "t").count() == 3)
    writeFile((10L to 14L).map(i => (i, s"v$i", i * 2)).toDF("id", "v", "w"), d, "t")
    val df = Tables(spark, d, "t")
    assert(df.columns.toSeq == Seq("id", "v", "w"), "the new file's schema is inferred")
    assert(df.as[(Long, String, Long)].collect().toSeq.sortBy(_._1) ==
      (10L to 14L).map(i => (i, s"v$i", i * 2)))
  }

  test("a directory table re-keys when a part file is added") {
    val d = tmpDir()
    (1L to 4L).toDF("id").coalesce(1).write.parquet(s"$d/t.parquet")
    assert(Tables(spark, d, "t").count() == 4)
    assert(jobsOf(Tables(spark, d, "t").schema)._2 == 0)
    (5L to 7L).toDF("id").coalesce(1).write.mode("append").parquet(s"$d/t.parquet")
    val (_, reinfer) = jobsOf(Tables(spark, d, "t").schema)
    assert(reinfer >= 1, "an added part file changes the key, so the schema is inferred again")
    assert(Tables(spark, d, "t").as[Long].collect().sorted.toSeq == (1L to 7L))
    assert(Tables.rows(spark, d, "t") == 7)
  }

  test("the NANOS guidance still fires on a session without nanosAsLong after another memoised the file") {
    val d = tmpDir()
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$d/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try w.write(groups.newGroup().append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    // the fixture session reads the ns as long and truncates to µs
    assert(Tables(spark, d, "events").selectExpr("unix_micros(ts)").as[Long].collect().toSeq ==
      Seq(1700000000123456L))
    val plain = spark.newSession()
    plain.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val ex = intercept[IllegalStateException](Tables(plain, d, "events"))
    assert(ex.getMessage.contains("spark.sql.legacy.parquet.nanosAsLong"), ex.getMessage)
  }

  test("Tables.rows equals count() for a single-file and a directory table") {
    for (t <- Seq("lineitem", "documents"))
      assert(Tables.rows(spark, Sf001, t) == Tables(spark, Sf001, t).count(), t)
    val d = tmpDir()
    (1L to 1000L).toDF("id").repartition(3).write.parquet(s"$d/t.parquet")
    assert(new java.io.File(s"$d/t.parquet").listFiles().count(_.getName.endsWith(".parquet")) == 3)
    assert(Tables.rows(spark, d, "t") == 1000)
    val (n, jobs) = jobsOf(Tables.rows(spark, d, "t"))
    assert(n == 1000 && jobs == 0, "footer counts run no job")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** The engine's runtime configuration surface, pinned.
  *
  * Every `spark.graft.*` key named anywhere in the main sources — read in
  * code or mentioned in a comment — must be one of the keys the README's
  * "Configuration" table documents, and that table lists exactly seven.
  * A new key therefore needs a README row and a deliberate bump here; a
  * key assembled at runtime (`s"spark.graft.$k"`) or broken across lines
  * does not parse as a documented key and fails the sweep.
  *
  * The surviving keys are read through [[Qh.Knob]], which refuses a
  * malformed or out-of-range value with an error naming the key before
  * the query runs any job.
  */
class KnobSurfaceSpec extends SparkSpec {
  import spark.implicits._

  private val KeyAt = """spark\.graft\.([A-Za-z][A-Za-z0-9]*(\.[A-Za-z][A-Za-z0-9]*)*)?""".r

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  private def readmeKeys: Set[String] = {
    val lines = scala.io.Source.fromFile("README.md", "UTF-8").getLines().toSeq
    val table = lines.dropWhile(_ != "## Configuration").drop(1).takeWhile(!_.startsWith("## "))
    table.filter(_.startsWith("| `spark.graft."))
      .map(l => l.drop(3).takeWhile(_ != '`')).toSet
  }

  test("the spark.graft.* keys in src/main/scala are exactly the seven the README documents") {
    val found = for {
      f <- sources(new java.io.File("src/main/scala"))
      src = scala.io.Source.fromFile(f, "UTF-8").mkString
      m <- KeyAt.findAllMatchIn(src)
      // `spark.graft.*` is prose for the whole family, not a key
      if !src.startsWith("*", m.end)
    } yield (Option(m.group(1)).map("spark.graft." + _).getOrElse("spark.graft.<unparsed>"),
      s"${f.getPath}:${src.take(m.start).count(_ == '\n') + 1}")
    val documented = readmeKeys
    assert(documented.size == 7, s"README Configuration table lists $documented")
    val stray = found.filterNot(k => documented(k._1))
    assert(stray.isEmpty, s"undocumented spark.graft keys: ${stray.mkString("; ")}")
    assert(found.map(_._1).toSet == documented,
      s"documented but never read: ${documented -- found.map(_._1)}")
  }

  private def failsBeforeAnyJob(key: String, value: String)(run: => Any): String = {
    val group = "knob-" + java.util.UUID.randomUUID()
    spark.conf.set(key, value)
    spark.sparkContext.setJobGroup(group, "knob check")
    try {
      val ex = intercept[IllegalArgumentException](run)
      assert(ex.getMessage.contains(s"$key=$value"), ex.getMessage)
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
        "the value is checked before the query runs a job")
      ex.getMessage
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.conf.unset(key)
    }
  }

  test("a non-integer bound fails naming its key before any job runs") {
    val msg = failsBeforeAnyJob("spark.graft.q28a.maxDocs", "1e6") {
      SparkEntry.queries("q28a_jaccard_pairs")(spark, Sf0001)
    }
    assert(msg.contains("not an integer"), msg)
  }

  test("bloom.maxEvalShingles=1: text_decontam_bloom's bound fails naming its key") {
    // the bound is checked against the eval set's distinct-shingle count,
    // so unlike the range checks above it fails after that count job
    val key = "spark.graft.bloom.maxEvalShingles"
    spark.conf.set(key, "1")
    try {
      val ex = intercept[IllegalArgumentException] {
        SparkEntry.queries("text_decontam_bloom")(spark, Sf0001)
      }
      assert(ex.getMessage.contains(s"$key=1"), ex.getMessage)
    } finally spark.conf.unset(key)
  }

  test("dedup.bucketSlices=0 fails naming its key before any job runs") {
    // a local frame: reading a parquet table is itself a (schema) job,
    // so the verifier every LSH dedup query shares is called directly
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.tokHashes(col("text")).as("tk"))
    val msg = failsBeforeAnyJob("spark.graft.dedup.bucketSlices", "0") {
      Dedup.verifyInBucket[Long]("knob spec", docs, lit(""), col("tk"), size(col("tk")),
        col("tk"))((_, _) => None)
    }
    assert(msg.contains("[1, "), msg)
  }
}

package graft

import graft.functions.Functions
import org.apache.spark.sql.functions._

/** UDAF and json_repair. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("weighted sentiment UDAF equals the plain-SQL formula") {
    val df = Seq((0.5, 10L), (-0.25, 30L), (1.0, 0L), (0.3333, 7L))
      .toDF("score", "w")
    val viaUdaf = df.agg(Functions.weightedSentiment(col("score"), col("w"))).head().getDouble(0)
    df.createOrReplaceTempView("ws_in")
    val viaSql = spark.sql(
      s"SELECT ${Functions.weightedSentimentSql("score", "w")} FROM ws_in").head().getDouble(0)
    assert(viaUdaf == viaSql)
    // hand value: floor(.5e4)*10 + floor(-.25e4)*30 + floor(1e4)*0 + floor(.3333e4)*7
    val expected = (5000L * 10 + -2500L * 30 + 3333L * 7).toDouble / 10000.0 / 47
    assert(viaUdaf == expected)
  }

  test("weighted sentiment: zero total weight yields 0.0, not NaN") {
    val df = Seq((0.9, 0L)).toDF("score", "w")
    assert(df.agg(Functions.weightedSentiment(col("score"), col("w"))).head().getDouble(0) == 0.0)
  }

  test("json_repair strips fences, chatter and curly quotes (T18)") {
    val dirty = Seq(
      """Sure! ```json {“k“: 42} ``` done""",
      """{"k": 7}""",
      """no json here""").toDF("s")
    val out = dirty.select(Functions.jsonRepair(col("s")).as("r"),
      get_json_object(Functions.jsonRepair(col("s")), "$.k").cast("int").as("k")).collect()
    assert(out(0).getString(0) == """{"k": 42}""" && out(0).getInt(1) == 42)
    assert(out(1).getString(0) == """{"k": 7}""" && out(1).getInt(1) == 7)
    assert(out(2).getString(0) == "")
  }

  test("json_repair native expression ≡ declarative regex chain (edge cases + events corpus)") {
    // Every branch of the single-pass scan vs the 3-stage regex chain it
    // replaced: fence variants, terminator classes, brace orderings,
    // curly quotes, surrogate pairs.
    val cases = Seq(
      "Sure! ```json {“k“: 42} ``` done",
      "{\"k\": 7}",
      "no json here",
      "",
      "````json {“a”:1}```", // 4 backticks: ``` eaten, `json survives
      "```jso {‘x’: 2} ```", // fence without the full json suffix
      "chatter { no close",
      "} { }", // leading close skipped, the later pair matches
      "}{\"a\":1}", // earliest '{' with a later '}' wins
      "{\"a\":1}\n{\"b\":2}", // newline: match cannot cross, first segment wins
      "pre {unclosed\n{\"b\": 2} post {\"c\":3}", // greedy to LAST } in 2nd segment
      "line1\r{\"r\": 1}\rtail", // carriage-return terminators
      "u2028" + 0x2028.toChar + "{\"u\":1}" + 0x2028.toChar + "x", // LINE SEPARATOR is a Java terminator
      "nel" + 0x85.toChar + "{\"n\":1}" + 0x85.toChar + "x", // NEL likewise
      "{“q”: ‘v’}", // curly quotes inside the braces
      "```json```{\"f\":5}```", // adjacent fences
      "emoji 😀 {\"e\": 1} tail", // non-BMP outside the object
      "{\"s\": \"😀\"}", // non-BMP inside the object
      "```json") // fence only
    val both = cases.toDF("s")
      .select(Functions.jsonRepair(col("s")).as("n"),
        Functions.jsonRepairDeclarative(col("s")).as("d"))
      .collect()
    both.zip(cases).foreach { case (r, in) =>
      assert(r.getString(0) == r.getString(1),
        s"native='${r.getString(0)}' declarative='${r.getString(1)}' on input: $in") }
    // null in → null out (UnaryExpression null-safety)
    val nl = Seq[Option[String]](None).toDF("s")
      .select(Functions.jsonRepair(col("s"))).head()
    assert(nl.isNullAt(0))
    // SQL registration face
    assert(spark.sql("SELECT graft_json_repair('x {\"k\":1} y')").head().getString(0) == "{\"k\":1}")
    // corpus parity on the exact dirty construction func_json_repair runs
    val dirty = concat(lit("Sure! Here is the JSON: ```json "),
      translate(col("props"), "\"", "“"), lit(" ``` hope this helps"))
    val diff = Qh.tbl(spark, Sf001, "events")
      .select(Functions.jsonRepair(dirty).as("n"),
        Functions.jsonRepairDeclarative(dirty).as("d"))
      .filter(col("n") =!= col("d")).count()
    assert(diff == 0L)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Dedup, FuncOps, Graph, Layout, Relational, Similarity, Skew, Temporal, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2.2 and the LLM-pipeline mandate
  * (dedup / similarity / text analysis) registers here as a named query
  * plus, where SQL-expressible, a DuckDB oracle. The driver compares
  * result hashes at sf0.01 (CORRECTNESS gate) and times them at sf0.1
  * (BENCH gate).
  */
object SparkEntry {

  /** All query definitions, in declaration order. */
  val allDefs: Seq[(String, QueryDef)] =
    Relational.defs ++ TextOps.defs ++ Similarity.defs ++ Dedup.defs ++
      FuncOps.defs ++ Skew.defs ++ graft.multimodal.Multimodal.defs ++
      Temporal.defs ++ Layout.defs ++ Bpe.defs ++ Graph.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * SURVEY §7.2 minimum slice: scan → length-route → lexicon-score the
    * short branch → aggregate per source.
    */
  def entry(spark: SparkSession): DataFrame = {
    import graft.enrich.Enrich.LexiconScorer
    val d = "/root/testdata/sf0.001"
    val docs = Tables(spark, d, "documents")
    val score = LexiconScorer.scoreCol(col("text"))
    graft.streaming.Streaming.routeByLength(docs)
      .withColumn("label", LexiconScorer.labelCol(score))
      .groupBy("source", "branch", "label")
      .agg(count(lit(1)).as("n"),
        round(avg(length(col("text"))), 2).as("avg_chars"),
        round(avg(score), 4).as("mean_score"))
      .orderBy("source", "branch", "label")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (name, qd) => name -> qd.build }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (name, QueryDef(_, Some(sql), _)) => name -> sql }.toMap
}

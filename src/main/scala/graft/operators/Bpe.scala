package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Qh}
import Qh._

/** Byte-pair-encoding vocabulary induction (Sennrich et al. 2016) — the
  * tokenizer-training half of a training-data pipeline, Spark-first.
  *
  * Scale shape: the ONLY corpus-scale pass is the word-type aggregation
  * (one shuffle, corpus → (word, freq) — the vocabulary table, ~1e6–1e8
  * rows at 100 TB, distributed but thousands of times smaller than the
  * corpus). Every merge iteration then runs on that type table: one
  * pair-count aggregation (explode of adjacent symbol pairs, weighted by
  * word freq) whose ARGMAX row — a single (left, right) pair — is the
  * only thing the driver ever sees, followed by a pure array-fold
  * transform applying the merge. `localCheckpoint` after each iteration
  * truncates the otherwise linearly-growing lineage (the
  * label-propagation precedent in [[Dedup]]). Production trainers at
  * 100 TB do exactly this per-merge pair-count reduce (or train on a
  * stratified sample — compose with `sample_stratified`); nothing here
  * is driver-side except the per-iteration 1-row argmax.
  *
  * Determinism: counts are exact integers; the argmax tie-break is
  * (freq DESC, left ASC, right ASC); the merge application is a
  * left-to-right greedy fold — so the merge table is bit-identical
  * across runs and partitionings (spec-asserted, including against an
  * independent in-memory reference implementation).
  *
  * Reference scope note: the reference engine ships no tokenizer
  * trainer; this extends the text-analysis family the LLM-pipeline
  * mandate calls for (cited alongside text_token_count's BPE-ish
  * regex).
  */
object Bpe {

  /** End-of-word marker symbol (standard BPE: lets merges distinguish
    * word-final from word-internal contexts, and makes every word
    * reconstructible by concatenation minus the marker). */
  val EndOfWord = "</w>"

  /** Default merge count for the registered query — deliberately small:
    * each merge is two distributed jobs, and the registered query is a
    * bench row. Real vocabularies (32k merges) run the same loop. */
  val DefaultMerges = 16

  /** Greedy left-to-right application of ONE merge (l, r) to a symbol
    * array, as a pure Column fold: scan the symbols, and whenever the
    * accumulated tail is `l` and the incoming symbol is `r`, replace the
    * tail with `l+r` — the exact scan order reference BPE uses, so
    * overlapping runs resolve identically ([a,a,a] + (a,a) → [aa, a]).
    * CaseWhen branches evaluate lazily, so the element_at(-1) probe
    * never runs on the empty accumulator (ANSI-safe). */
  private def applyMerge(sym: Column, l: String, r: String): Column =
    aggregate(sym, array().cast("array<string>"), (acc, x) =>
      when(size(acc) === 0, array_append(acc, x))
        .when(element_at(acc, -1) === lit(l) && x === lit(r),
          array_append(slice(acc, lit(1), size(acc) - 1), lit(l + r)))
        .otherwise(array_append(acc, x)))

  /** Does `sym` contain the adjacent pair (l, r)? A single pass with no
    * array building — the guard that keeps [[applyMerge]]'s O(len²)
    * accumulator fold (array_append copies the accumulator per element)
    * off the words a merge cannot touch, which is almost all of them:
    * each merge typically affects a small slice of the type table.
    * Equivalence: the fold applied to a word WITHOUT the pair rebuilds
    * the identical array, so guarding it changes nothing (r14). */
  private def containsPair(sym: Column, l: String, r: String): Column =
    size(sym) >= 2 && exists(
      zip_with(
        slice(sym, lit(1), size(sym) - 1),
        slice(sym, lit(2), size(sym) - 1),
        (a, b) => a === lit(l) && b === lit(r)),
      p => p)

  /** Train `nMerges` BPE merges on the whitespace words of
    * `docs(textCol)`. Returns the ranked merge table
    * `(rank, left, right, pair_freq)` — the tokenizer artifact
    * [[encode]] consumes. May return fewer than `nMerges` rows if no
    * pair occurs at least `minPairFreq` times (degenerate corpora). */
  def train(docs: DataFrame, nMerges: Int = DefaultMerges,
      textCol: String = "text", minPairFreq: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    var words = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(array_append(
          filter(split(col("w"), ""), x => x =!= lit("")),
          lit(EndOfWord)).as("sym"),
        col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    var rank = 0L
    // The type table is checkpointed after EVERY merge. Checkpointing
    // every K merges instead re-applies up to K-1 chained merge folds
    // inside each argmax job; MEASURED (r14, sf0.1) K=4 ran 3.82 s vs
    // 2.43 s at K=1 — the chained HOF folds cost more in codegen and
    // recompute than the checkpoint jobs they remove.
    while (rank < nMerges && !done) {
      val top0 = words
        .where(size(col("sym")) >= 2)
        .select(col("freq"), explode(
          zip_with(
            slice(col("sym"), lit(1), size(col("sym")) - 1),
            slice(col("sym"), lit(2), size(col("sym")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("pf"))
        .orderBy(col("pf").desc, col("l"), col("r"))
        .limit(1)
      val top = Qh.boundedCollect(top0, 1, "BPE best-pair argmax")
      if (top.isEmpty || top(0).getLong(2) < minPairFreq) done = true
      else {
        val (l, r, pf) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, pf))
        val prev = words
        words = words.select(
          when(containsPair(col("sym"), l, r), applyMerge(col("sym"), l, r))
            .otherwise(col("sym")).as("sym"),
          col("freq"))
          .localCheckpoint()
        prev.unpersist(blocking = false)
        rank += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "pair_freq")
  }

  /** Encode each document's words with a trained merge table (ranked
    * (left, right) pairs, lowest rank = applied first — the standard
    * BPE encode loop). Per-row imperative logic over a broadcast rank
    * map — the documented `mapPartitions`-tier case: the merge loop is
    * inherently sequential per word and the artifact is driver-small
    * (≤ vocab-size pairs). Emits (doc_id, n_tok, n_bpe, bpe_hash) — the
    * token stream proven by hash, the [[graft.Qh.strHash]] recipe. */
  def encode(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks: Map[(String, String), Int] = merges.zipWithIndex.map {
      case ((l, r), i) => (l, r) -> i
    }.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    docs.select(col("doc_id").cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val words = text.split(" ", -1)
        val toks = words.iterator.flatMap(w => encodeWord(w, bc.value)).toSeq
        (id, words.length.toLong, toks.length.toLong, toks.mkString(" "))
      }
      .toDF("doc_id", "n_tok", "n_bpe", "bpe_text")
      .select(col("doc_id"), col("n_tok"), col("n_bpe"),
        strHash(col("bpe_text")).as("bpe_hash"))
  }

  /** Reference-standard single-word BPE encode: repeatedly merge the
    * lowest-rank adjacent pair present, left-to-right within a rank. */
  private[graft] def encodeWord(w: String,
      ranks: Map[(String, String), Int]): Seq[String] = {
    var sym = (w.split("").toSeq :+ EndOfWord).filter(_.nonEmpty)
    var continue = sym.length >= 2
    while (continue) {
      val best = sym.zip(sym.tail).flatMap(p => ranks.get(p).map(p -> _))
        .sortBy(_._2).headOption
      best match {
        case None => continue = false
        case Some(((l, r), _)) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < sym.length) {
            if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += sym(i); i += 1 }
          }
          sym = out.toSeq
          continue = sym.length >= 2
      }
    }
    sym
  }

  /** The registered rows-only query: the trained merge table itself —
    * the deterministic tokenizer artifact. No SQL oracle: the argmax-
    * per-iteration loop has no tractable relational form (the
    * recursive-CTE closure precedent); correctness is spec-gated
    * against an independent in-memory reference implementation
    * (BpeSpec), the trainCentroids precedent. */
  val defs: Seq[(String, QueryDef)] = Seq(
    "text_bpe_vocab" -> QueryDef(
      (s, d) => train(tbl(s, d, "documents")).orderBy("rank"),
      None,
      doc = "BPE merge table (rank, left, right, pair_freq) trained on the corpus; " +
        "deterministic argmax loop, spec-gated vs a reference implementation"))
}

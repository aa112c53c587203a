package graft.functions

import graft.Qh
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Broadcast-literal Bloom filter over a LONG key column — the shuffle-free
  * prefilter shape for set membership at 100 TB: the filter rides into every
  * task as one array literal (m/8 bytes), the probe is pure column
  * arithmetic inside whole-stage codegen, and the corpus side is never
  * shuffled just to be tested. False positives are possible (callers verify
  * survivors exactly — see text_decontam_bloom); false negatives are not.
  *
  * Hash discipline: the bit positions are computed by ONE column expression
  * ([[positions]]) used both to BUILD the filter (a Spark job over the key
  * set, collected bounded — the caller guards the bound) and to PROBE it,
  * so there is no driver-side reimplementation of xxhash64 that could
  * drift from Spark's.
  */
object Bloom {

  /** k bit positions of key `g` in a filter of `mBits` bits (mBits a power
    * of two). Classic double hashing (Kirsch–Mitzenmauer): h1 + i·h2 with
    * h2 forced odd so the stride is full-period in the pow2 space. xxhash64
    * never overflows/throws (safe under ANSI mode) and is codegen'd. */
  def positions(g: Column, mBits: Int, k: Int): Seq[Column] = {
    val m = lit(mBits.toLong)
    val h1 = pmod(xxhash64(g), m)
    val h2 = pmod(xxhash64(g, lit(1L)), m) * 2L + 1L
    (0 until k).map(i => pmod(h1 + lit(i.toLong) * h2, m))
  }

  /** An immutable built filter: `words` is the bitset as 64-bit words. */
  final case class Filter(words: Array[Long], mBits: Int, k: Int) {
    /** Standard FPP estimate for n inserted keys. */
    def fpp(n: Long): Double = math.pow(1.0 - math.exp(-k.toDouble * n / mBits), k)
  }

  private def nextPow2(x: Long): Int = {
    var m = 1L << 10
    while (m < x) m <<= 1
    require(m <= (1L << 30), s"bloom bitset of $x bits exceeds the 2^30 literal budget")
    m.toInt
  }

  /** The fpp-optimal probe count for a bits-per-key budget:
    * k* = (m/n)·ln 2, rounded (k* = 11 at the default 16 bits/key, for a
    * per-key fpp of ~4.6e-4 vs ~1.4e-3 at k=5). Callers sizing for a
    * per-DOCUMENT false-positive budget must remember the probe side
    * compounds: a doc with S probed keys collides with probability
    * 1-(1-fpp)^S, so per-doc hygiene at S≈1000 needs bitsPerKey ≈ 32
    * (k*=22, fpp ≈ 2e-7), not a bigger k at 16 bits. */
  def optimalK(bitsPerKey: Int): Int =
    math.max(1, math.round(bitsPerKey * math.log(2.0)).toInt)

  /** Build a filter over the distinct values of `keys(keyCol)` (long).
    * Runs two bounded Spark jobs: a distinct count (sizing + the cap
    * check) and a distinct-positions collect. `maxKeys` is the caller's
    * boundedness contract — building a bloom over an UNBOUNDED key set is
    * a driver OOM at scale, so refuse loudly instead; the error names
    * `boundKey`, the setting `maxKeys` came from. `k` defaults to
    * [[optimalK]] for the chosen bitsPerKey. */
  def build(keys: DataFrame, keyCol: String, maxKeys: Long,
      bitsPerKey: Int = 16, k: Int = -1, boundKey: String = "maxKeys"): Filter = {
    val kEff = if (k > 0) k else optimalK(bitsPerKey)
    // Distinct ONCE, reused by the count guard and the position job —
    // callers commonly pass one row per (doc, key) and the duplicate
    // factor would otherwise be paid through the position shuffle.
    val ks = keys.select(keyCol).distinct()
    val n = ks.count()
    require(n <= maxKeys,
      s"$boundKey=$maxKeys: Bloom.build over $n distinct keys exceeds this bound: a bloom " +
        "prefilter is for BOUNDED key sets (eval/benchmark corpora); use the " +
        "shuffle equi-join path (text_contamination) for corpus-sized sets")
    val mBits = nextPow2(math.max(1L, n) * bitsPerKey)
    val words = new Array[Long]((mBits + 63) / 64)
    // Distributed OR-reduction: positions fold into (word, mask) and
    // bit_or-aggregate BEFORE the collect, so the driver receives at most
    // one row per SET WORD (≤ mBits/64) — never the k·n raw positions.
    val setWords = ks.select(explode(array(positions(col(keyCol), mBits, kEff): _*)).as("p"))
      .select(call_function("div", col("p"), lit(64L)).cast("int").as("w"),
        call_function("shiftleft", lit(1L), pmod(col("p"), lit(64L)).cast("int")).as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("m"))
    Qh.boundedCollect(setWords, words.length, "bloom set-word OR-reduction")
      .foreach(r => words(r.getInt(0)) = r.getLong(1))
    Filter(words, mBits, kEff)
  }

  /** Membership probe — native codegen expression
    * ([[graft.plans.BloomContains]]): both hashes computed once, bit tests
    * short-circuit, bitset referenced as one object. Runs once per
    * exploded corpus shingle in the decontamination paths — the reason it
    * is native. [[mightContainDecl]] is the parity witness. */
  def mightContain(g: Column, f: Filter): Column =
    graft.plans.BloomContains.column(g, f.words, f.mBits, f.k)

  /** Declarative (built-ins only) form of [[mightContain]] — k AND'ed bit
    * tests against the array literal (typedLit embeds ONE ArrayData
    * constant, not a 16k-element CreateArray). Kept as the parity witness
    * for the native expression AND as the build-side definition: the same
    * [[positions]] expression feeds [[build]]'s bit_or aggregation. */
  def mightContainDecl(g: Column, f: Filter): Column = {
    val bits = typedLit(f.words)
    positions(g, f.mBits, f.k).map { p =>
      val word = element_at(bits, call_function("div", p, lit(64L)).cast("int") + 1)
      word.bitwiseAND(call_function("shiftleft", lit(1L), pmod(p, lit(64L)).cast("int"))) =!= 0L
    }.reduce(_ && _)
  }
}

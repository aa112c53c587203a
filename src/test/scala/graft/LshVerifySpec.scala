package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Pins dedup_ngram_jaccard, dedup_containment and dedup_edit_distance —
  * decided inside their LSH buckets by the shared in-bucket verifier —
  * against the definition they must preserve: every same-source pair
  * that collides in some band and passes the query's rule, once.
  *
  * The reference is the band self-join formulation itself: band
  * self-join on (source, band, bkey), corpus-wide pair distinct, two
  * attach joins, and the genuine rule columns ([[Dedup.jaccard]],
  * `inter * 1000 div n`, `levenshtein(pa, pb, 51)` with Spark's
  * `length`). It shares nothing with the code under test past the
  * banding and shingling primitives both must agree on. The planted
  * corpus stresses every reduction the verifier makes: pairs colliding
  * in several bands (first-band emission must give each exactly once),
  * identical texts in different sources (one bucket key, never a pair),
  * pairs sitting exactly on each threshold, a short doc inside a long
  * one (no size window for containment), edit distance 51 against 52,
  * and non-BMP characters inside the edit-distance prefixes. The whole
  * check runs twice: once as is, once with the hot-bucket split forced.
  */
class LshVerifySpec extends SparkSpec {
  import spark.implicits._

  private def shingled(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("doc_id"),
        substring(col("text"), 1, 256).as("pfx"),
        Dedup.shingles3(Dedup.tokHashesSeq(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Band self-join candidates: (source, a, b, bands) with a < b and
    * `bands` the number of bands the pair collides in. */
  private def candidates(base: DataFrame): DataFrame = {
    val banded = Dedup.bandExplode(base.withColumn("mhs", Dedup.minhashSig(col("sh"))),
      "mhs", Seq("source", "doc_id"))
    banded.select(col("source"), col("band"), col("bkey"), col("doc_id").as("a"))
      .join(banded.select(col("source"), col("band"), col("bkey"), col("doc_id").as("b")),
        Seq("source", "band", "bkey"))
      .filter(col("a") < col("b"))
      .groupBy("source", "a", "b").agg(count(lit(1)).as("bands"))
  }

  /** Band self-join → pair distinct → attach joins, as the three queries
    * were written before the in-bucket verifier. */
  private def attached(base: DataFrame): DataFrame = {
    val pairs = candidates(base).select("source", "a", "b").distinct()
    val of = base.select(col("doc_id"), col("sh"), col("pfx"))
    pairs
      .join(of.select(col("doc_id").as("a"), col("sh").as("sa"), col("pfx").as("pa")), Seq("a"))
      .join(of.select(col("doc_id").as("b"), col("sh").as("sb"), col("pfx").as("pb")), Seq("b"))
  }

  private def refNgram(base: DataFrame): Set[(String, Long, Long, Double)] =
    attached(base)
      .select(col("source"), col("a"), col("b"), Dedup.jaccard(col("sa"), col("sb")).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .as[(String, Long, Long, Double)].collect().toSet

  private def refContainment(base: DataFrame)
      : Set[(String, Long, Long, Long, Long, Long, Long, Long)] =
    attached(base)
      .select(col("source"), col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        size(col("sa")).cast("long").as("na"), size(col("sb")).cast("long").as("nb"))
      .withColumn("cont_ab_milli", expr("inter * 1000 div na"))
      .withColumn("cont_ba_milli", expr("inter * 1000 div nb"))
      .filter(greatest(col("cont_ab_milli"), col("cont_ba_milli")) >= 600)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().toSet

  private def refEdit(base: DataFrame): Set[(String, Long, Long, Long, Long)] =
    attached(base)
      .withColumn("edit_dist", levenshtein(col("pa"), col("pb"), 51).cast("long"))
      .filter(col("edit_dist") >= 0)
      .withColumn("edit_rate_milli", expr("edit_dist * 1000 div greatest(length(pa), length(pb))"))
      .filter(col("edit_rate_milli") <= 200)
      .select("source", "a", "b", "edit_dist", "edit_rate_milli")
      .as[(String, Long, Long, Long, Long)].collect().toSet

  /** Ids of the planted pairs the assertions name. */
  private val ids = scala.collection.mutable.Map.empty[String, (Long, Long)]

  private def plantedCorpus: DataFrame = {
    ids.clear()
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    var id = 0L
    def add(source: String, text: String): Long = { id += 1; rows += ((id, source, text)); id }
    // hash-scrambled token names: runs of near-identical names hash to
    // near-identical values, which the affine MinHash family keeps
    // correlated — scrambling keeps band collisions near their nominal rate
    def words(prefix: String, n: Int): Seq[String] = (1 to n).map(i =>
      prefix + java.lang.Long.toString(((prefix + i).hashCode * 2654435761L) & 0xffffffL, 36))
    def pair(name: String, source: String, a: String, b: String): Unit =
      ids(name) = (add(source, a), add(source, b))

    // near-identical pairs: collide in (almost) every band — first-band
    // emission must give each exactly once; the same texts in another
    // source share every bucket key but must never pair across sources
    val alpha = words("planet", 14).mkString(" ")
    add("s0", alpha); add("s0", alpha + " comet")
    add("s1", alpha); add("s1", alpha + " comet")

    // rounded J = 0.3 exactly: 6 vs 7 shingles, 3 shared → 3/10 (both
    // containments 500 and 428 — below 600); one family per seed, since
    // a J = 0.3 pair collides in some band only ~31% of the time
    (1 to 24).foreach { k =>
      val p = words(s"j${k}p", 8)
      add("sj", p.mkString(" "))
      add("sj", (p.take(5) ++ words(s"j${k}q", 4)).mkString(" "))
    }

    // containment exactly 600‰: 5 shingles each, 3 shared; and 571‰
    // (4 of 7) just below
    (1 to 24).foreach { k =>
      val p = words(s"c${k}p", 7)
      add("sc", p.mkString(" "))
      add("sc", (p.take(5) ++ words(s"c${k}r", 2)).mkString(" "))
      val u = words(s"c${k}u", 9)
      add("sc", u.mkString(" "))
      add("sc", (u.take(6) ++ words(s"c${k}v", 5)).mkString(" "))
    }

    // short inside long: 3 shingles inside 15 (containment 1000, J 0.2,
    // size ratio 5 — any Jaccard size window would drop it)
    (1 to 40).foreach { k =>
      val p = words(s"l${k}p", 5)
      add("sl", p.mkString(" "))
      add("sl", (p ++ words(s"l${k}x", 12)).mkString(" "))
    }

    // edit rate exactly 200‰: 80 chars vs the same + 20 appended chars
    // (distance 20, length gap 20 of 100 — the window's own boundary);
    // and one changed 20-char head on a 100-char text (distance 20)
    val tail = (1 to 20).map(i => f"e$i%02d").mkString(" ") // 79 chars
    pair("append20", "se", "h" + tail, "h" + tail + " " + "z" * 19) // 80, 100
    pair("head20", "se", "a" * 20 + " " + tail, "b" * 20 + " " + tail) // 100, 100
    // ... and 21 changed chars on 104 (rate 201): collides, not emitted
    pair("head21", "se", "c" * 24 + " " + tail, "d" * 21 + "ccc " + tail)

    // distance 51 against 52 on full 256-char prefixes: a differing head
    // run then a long common tail (shingle Jaccard stays high)
    val longTail = (1 to 80).map(i => f"t$i%03d").mkString(" ") // 399 chars
    // distance 51: 51000 div 256 = 199
    pair("dist51", "sd", "x" * 51 + " " + longTail, "y" * 51 + " " + longTail)
    // distance 52: past the DP band
    pair("dist52", "sd", "v" * 52 + " " + longTail, "w" * 52 + " " + longTail)

    // non-BMP text: 10 emoji differ on a 50-code-point text — rate 200‰
    // in code points (UTF-16 units would read 20 of 76 = 263‰); and a
    // long emoji-laced tail so the 256-code-point cut lands among them
    val emo = (1 to 8).map(i => s"😀$i😃").mkString(" ") // 8 × 3 + 7 = 31
    pair("emoji", "sm", "😀" * 10 + " " + emo + " " + "e" * 7, // 10 + 1 + 31 + 1 + 7 = 50
      "😃" * 10 + " " + emo + " " + "e" * 7)
    val emoTail = (1 to 90).map(i => f"👍$i%02d").mkString(" ") // 90 × 3 + 89 = 359
    pair("emojiTail", "sm", "k" * 30 + " " + emoTail, "m" * 30 + " " + emoTail)

    // ambient-similar block: 60 docs over a 10-token vocabulary, token
    // choices hash-derived (deterministic, no RNG) — buckets well past
    // the forced slice threshold below
    val vocab = (0 until 10).map(i => s"w$i")
    (0 until 60).foreach { i =>
      val len = 14 + (i * 7919) % 6
      add("sa", (0 until len).map(j => vocab(((i * 3 + j * 7 + (i * j) % 5) % 10 + 10) % 10))
        .mkString(" "))
    }
    rows.toSeq.toDF("doc_id", "source", "text")
  }

  private def run[T](name: String, dir: String)(implicit enc: org.apache.spark.sql.Encoder[T])
      : Seq[T] =
    SparkEntry.queries(name)(spark, dir).as[T].collect().toSeq

  private def check(dir: String, base: DataFrame): Unit = {
    def same[T](name: String, got: Seq[T], want: Set[T]): Unit = {
      assert(got.length == got.toSet.size,
        s"$name emitted a pair twice: ${got.groupBy(identity).filter(_._2.length > 1).keys.take(3)}")
      assert(got.toSet == want,
        s"$name mismatch: missing=${(want -- got.toSet).take(5)} extra=${(got.toSet -- want).take(5)}")
    }
    same("dedup_ngram_jaccard", run[(String, Long, Long, Double)]("dedup_ngram_jaccard", dir),
      refNgram(base))
    same("dedup_containment",
      run[(String, Long, Long, Long, Long, Long, Long, Long)]("dedup_containment", dir),
      refContainment(base))
    same("dedup_edit_distance",
      run[(String, Long, Long, Long, Long)]("dedup_edit_distance", dir), refEdit(base))
  }

  test("in-bucket ngram / containment / edit distance ≡ band self-join formulation, " +
    "unsplit and with the hot-bucket split forced") {
    val docs = plantedCorpus.localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("lshspec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val base = shingled(docs).localCheckpoint(true)

    // the planted structure materialized in the reference
    val ngram = refNgram(base)
    val cont = refContainment(base)
    val edit = refEdit(base)
    val cand = candidates(base).as[(String, Long, Long, Long)].collect()
    val multiBand = cand.filter(_._4 >= 2).map(c => (c._1, c._2, c._3)).toSet
    assert(ngram.exists(r => multiBand((r._1, r._2, r._3))), "a multi-band ngram pair")
    assert(edit.exists(r => multiBand((r._1, r._2, r._3))), "a multi-band edit pair")
    assert(!ngram.exists(r => r._2 <= 2L && r._3 >= 3L && r._3 <= 4L),
      "identical texts in two sources never pair")
    assert(ngram.contains(("s0", 1L, 2L, 0.9231)) && ngram.contains(("s1", 3L, 4L, 0.9231)),
      "the near-identical pair pairs within each source")
    assert(ngram.exists(_._4 == 0.3), "an exact J = 0.3 pair collided")
    assert(cont.exists(r => math.max(r._7, r._8) == 600L), "a containment-600 pair collided")
    assert(cand.exists(c => c._1 == "sc" && !cont.exists(r => (r._2, r._3) == (c._2, c._3))),
      "a containment-571 pair collided and was dropped")
    assert(cont.exists(r => r._1 == "sl" && r._7 == 1000L && r._4 * 5 == r._6),
      "a short-inside-long pair (3 in 15 shingles) collided")
    def candPair(name: String) = cand.exists(c => (c._2, c._3) == ids(name))
    def editPair(name: String) = edit.find(r => (r._2, r._3) == ids(name))
    assert(editPair("append20").map(r => (r._4, r._5)).contains((20L, 200L)),
      "append 20 chars to 80: distance 20, rate 200‰, on the window boundary")
    assert(editPair("head20").map(r => (r._4, r._5)).contains((20L, 200L)))
    assert(candPair("head21") && editPair("head21").isEmpty, "rate 201‰ collides, dropped")
    assert(editPair("dist51").map(_._4).contains(51L), "distance 51 kept")
    assert(candPair("dist52") && editPair("dist52").isEmpty, "distance 52 collides, dropped")
    assert(editPair("emoji").map(r => (r._4, r._5)).contains((10L, 200L)),
      "10 of 50 code points: 200‰ (UTF-16 units would read 263‰)")
    assert(editPair("emojiTail").map(_._4).contains(30L), "prefix cut inside the emoji tail")
    val maxBucket = Dedup.bandExplode(base.withColumn("mhs", Dedup.minhashSig(col("sh"))),
        "mhs", Seq("source", "doc_id"))
      .groupBy("source", "band", "bkey").count().agg(max("count")).as[Long].head()
    assert(maxBucket > 4, s"a bucket past the forced slice threshold (max $maxBucket)")

    check(dir, base)
    spark.conf.set("spark.graft.dedup.sliceThreshold", "4")
    spark.conf.set("spark.graft.dedup.bucketSlices", "3")
    try check(dir, base)
    finally {
      spark.conf.unset("spark.graft.dedup.sliceThreshold")
      spark.conf.unset("spark.graft.dedup.bucketSlices")
    }
  }
}

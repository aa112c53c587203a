package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable

import graft.schema.Models.RedditPost

/** One generated record: its Kafka-wire key and value, and the post when
  * the value is well-formed JSON. */
final case class Record(key: String, value: String, post: Option[RedditPost])

/** One input file: Kafka-wire JSON lines (`key`, `value` as
  * `Sources.toWire` writes them, plus `sched_ms`, the file's scheduled
  * landing offset from the start of the load, as a Kafka record
  * timestamp). */
final case class WireFile(index: Int, records: Seq[Record], schedMs: Long = 0L) {
  def name: String = f"f$index%06d.json"
  def posts: Seq[RedditPost] = records.flatMap(_.post)
  def bytes: Array[Byte] = records.map { r =>
    s"""{"key":${PostGen.q(r.key)},"value":${PostGen.q(r.value)},"sched_ms":$schedMs}\n"""
  }.mkString.getBytes(UTF_8)
}

/** Seeded generator of Reddit-post load. Record kinds, by share of all
  * records: 1% malformed JSON values, 1% posts whose content is only
  * spaces, 10% exact re-deliveries of an earlier post (same topic, id,
  * created_at and content), the rest new posts of which 30% are longer
  * than the 1,024-char summary threshold. Single-threaded; the same seed
  * gives the same records. */
final class PostGen(seed: Long) {
  import PostGen._
  private val r = new scala.util.Random(seed)
  private var next = 0L
  // recent valid posts, the pool re-deliveries are drawn from
  private val recent = mutable.ArrayBuffer.empty[RedditPost]
  private val RecentCap = 4000

  def records(n: Int): IndexedSeq[Record] = IndexedSeq.fill(n)(record())

  private def record(): Record = {
    val u = r.nextDouble()
    if (u < MalformedShare) {
      val v = PostGen.valueJson(newPost(long = false))
      Record(s"bad$next", v.substring(0, v.length / 2), None)
    } else {
      val p =
        if (u < MalformedShare + BlankShare)
          newPost(long = false).copy(post_content = " " * (1 + r.nextInt(4)))
        else if (u < MalformedShare + BlankShare + RedeliveryShare && recent.nonEmpty)
          recent(r.nextInt(recent.size))
        else {
          val q = newPost(long = r.nextDouble() < LongShare)
          if (recent.size < RecentCap) recent += q else recent(r.nextInt(RecentCap)) = q
          q
        }
      Record(p.id, PostGen.valueJson(p), Some(p))
    }
  }

  private def words(n: Int): String = Seq.fill(n)(PostGen.Vocab(r.nextInt(PostGen.Vocab.size))).mkString(" ")

  private def text(minChars: Int, maxChars: Int): String = {
    val target = minChars + r.nextInt(maxChars - minChars + 1)
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(' ')
      val s = words(5 + r.nextInt(14))
      sb.append(s.head.toUpper).append(s.tail).append('.')
    }
    sb.toString
  }

  private def newPost(long: Boolean): RedditPost = {
    next += 1
    RedditPost(
      topic = PostGen.Topics(r.nextInt(PostGen.Topics.size)),
      subreddit = PostGen.Subreddits(r.nextInt(PostGen.Subreddits.size)),
      author = s"user${r.nextInt(500)}",
      post_title = words(3 + r.nextInt(6)),
      post_content = if (long) text(1100, 3000) else text(40, 900),
      upvotes = r.nextInt(5000),
      created_at = new Timestamp((PostGen.Epoch0S + next * 2) * 1000L),
      id = "t3_" + java.lang.Long.toString(next, 36))
  }
}

object PostGen {
  val MalformedShare = 0.01
  val BlankShare = 0.01
  val RedeliveryShare = 0.10
  val LongShare = 0.30
  val Epoch0S = 1767225600L // 2026-01-01T00:00:00Z

  val Topics: IndexedSeq[String] = IndexedSeq("ai chips", "election", "space launch",
    "world cup", "stock market", "vaccine trial", "new phone", "climate summit",
    "film festival", "rate cut", "data breach", "game release", "strike", "heatwave",
    "court ruling", "startup funding")
  val Subreddits: IndexedSeq[String] = IndexedSeq("news", "worldnews", "technology",
    "science", "sports", "movies", "gaming", "politics", "finance", "askreddit")
  // neutral filler plus the scorer's lexicon words, so labels vary
  val Vocab: IndexedSeq[String] = IndexedSeq("the", "a", "this", "that", "is", "was",
    "and", "but", "people", "team", "report", "update", "market", "price", "launch",
    "game", "vote", "city", "week", "today", "really", "very", "just", "about", "new",
    "old", "first", "last", "day", "time", "good", "great", "love", "best", "happy",
    "win", "nice", "fast", "easy", "bad", "hate", "worst", "sad", "fail", "slow",
    "broken", "bug", "wrong", "hard", "poor")

  /** The post as `to_json(struct(...))` renders it in a UTC session. */
  def valueJson(p: RedditPost): String =
    s"""{"topic":${q(p.topic)},"subreddit":${q(p.subreddit)},"author":${q(p.author)},""" +
      s""""post_title":${q(p.post_title)},"post_content":${q(p.post_content)},""" +
      s""""upvotes":${p.upvotes},"created_at":${q(isoMillis(p.created_at))},"id":${q(p.id)}}"""

  private def isoMillis(t: Timestamp): String = {
    val s = Instant.ofEpochMilli(t.getTime).toString // 2026-01-01T00:00:02Z
    if (s.length == 20) s.dropRight(1) + ".000Z" else s
  }

  /** JSON string literal. */
  def q(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

package perfbench

import graft.schema.Models
import graft.schema.Models.RedditPost
import graft.sources.Sources
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PostGenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val N = 20000
  private lazy val recs = new PostGen(7).records(N)

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def bytes(rs: Seq[Record]) = WireFile(0, rs).bytes.toSeq

  test("the same seed gives identical bytes, another seed does not") {
    assert(bytes(new PostGen(7).records(500)) == bytes(recs.take(500)))
    assert(bytes(new PostGen(8).records(500)) != bytes(recs.take(500)))
  }

  test("record kinds hit their shares") {
    def share(n: Int) = n.toDouble / N
    val malformed = recs.count(_.post.isEmpty)
    val posts = recs.flatMap(_.post)
    val blank = posts.count(_.post_content.trim.isEmpty)
    val seen = scala.collection.mutable.Set.empty[String]
    val redelivered = posts.count(p => !seen.add(p.id))
    val fresh = posts.filter(p => p.post_content.trim.nonEmpty).groupBy(_.id).values.map(_.head)
    val long = fresh.count(_.post_content.length > Models.SummaryThreshold)
    assert(math.abs(share(malformed) - PostGen.MalformedShare) < 0.003, s"malformed ${share(malformed)}")
    assert(math.abs(share(blank) - PostGen.BlankShare) < 0.003, s"blank ${share(blank)}")
    assert(math.abs(share(redelivered) - PostGen.RedeliveryShare) < 0.01,
      s"redelivered ${share(redelivered)}")
    val longShare = long.toDouble / fresh.size
    assert(math.abs(longShare - PostGen.LongShare) < 0.02, s"long $longShare")
  }

  test("a re-delivery repeats an earlier post exactly") {
    val byId = recs.flatMap(_.post).groupBy(_.id).filter(_._2.size > 1)
    assert(byId.nonEmpty)
    byId.values.foreach(ps => assert(ps.distinct.size == 1))
  }

  test("values are what Sources.toWire writes, and fromWire reads them back") {
    import spark.implicits._
    val sample = recs.take(300)
    val posts = sample.flatMap(_.post)
    val wire = Sources.toWire(posts.toDS().toDF(), "id").as[(String, String)].collect().toSeq
    assert(wire == sample.filter(_.post.nonEmpty).map(r => (r.key, r.value)))
    val dir = java.nio.file.Files.createTempDirectory("postgen")
    java.nio.file.Files.write(dir.resolve("f.json"), WireFile(0, sample).bytes)
    val back = Sources.fromWire(spark.read.schema(Lane.WireSchema).json(dir.toString),
      Models.redditPostSchema, "id").as[RedditPost].collect().toSeq
    assert(back.sortBy(_.id) == posts.sortBy(_.id))
  }
}

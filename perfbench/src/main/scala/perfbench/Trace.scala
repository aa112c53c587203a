package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are seconds on the run's wall clock
  * (epoch based, so spans from Spark's progress events line up with the
  * benchmark's own). */
final case class Span(id: String, name: String, startS: Double, endS: Double,
    parent: String, run: String) {
  def durationS: Double = endS - startS
  def json: String =
    f"""{"run":"$run","id":"$id","name":"$name","parent":"$parent",""" +
      f""""start_s":$startS%.6f,"end_s":$endS%.6f}"""
}

/** In-memory span recorder. Spans are kept until [[Tracer.write]] at the
  * end of the run. With `on = false` every call is a plain pass-through, so the
  * untraced run executes the same code with no recording. */
final class Tracer(val run: String, val on: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private val (epoch0, nano0) = (System.currentTimeMillis(), System.nanoTime())

  /** Epoch seconds, monotonic within the run. */
  def nowS: Double = epoch0 / 1e3 + (System.nanoTime() - nano0) / 1e9

  /** Time `body` as span `name` under `parent`. Spark jobs it launches from
    * this thread are tagged with `name` for [[TaskListener]]. */
  def span[T](name: String, parent: String = "", id: String = "")(body: => T): T =
    if (!on) body
    else {
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, name)
      val t0 = nowS
      try body
      finally {
        add(name, t0, nowS, parent, id)
        sc.setLocalProperty(Tracer.SpanProp, prev)
      }
    }

  def add(name: String, startS: Double, endS: Double, parent: String = "",
      id: String = ""): Span = {
    val s = Span(if (id.nonEmpty) id else s"s${seq.incrementAndGet()}", name, startS, endS,
      parent, run)
    spans.add(s)
    s
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  /** The Spark local property that tags a job with its span name. */
  val SpanProp = "perfbench.span"

  /** Write `spans` as JSON lines. */
  def write(path: java.nio.file.Path, spans: Seq[Span]): Unit =
    java.nio.file.Files.writeString(path, spans.map(_.json).mkString("", "\n", "\n"))
}

/** Per-span totals of the Spark runtime under the span. */
final case class SparkTotals(jobs: Long, tasks: Long, shuffleWriteBytes: Long,
    spillBytes: Long, recordsWritten: Long, straggler: Double)

/** The `spark` layer: a listener that charges every job, task, shuffle
  * write and spill to the span whose name the job carried in
  * [[Tracer.SpanProp]] (jobs without one are charged to `untagged`). Straggler ratio is the
  * worst max/median task time over the span's stages with two or more
  * tasks. */
final class TaskListener extends SparkListener {
  private final class Acc {
    var jobs, tasks, shWrite, spill, written = 0L
    val stageTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  }
  private val bySpan = mutable.Map.empty[String, Acc]
  private val stageSpan = mutable.Map.empty[Int, String]
  private var started, ended = 0L

  private def acc(span: String) = bySpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .getOrElse("untagged")
    acc(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, "untagged"))
    a.tasks += 1
    a.stageTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration.toDouble
    Option(e.taskMetrics).foreach { m =>
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.written += m.outputMetrics.recordsWritten
    }
  }

  /** Block until every job seen so far has ended on the listener bus (task
    * ends precede their job's end there), at most `timeoutS`. */
  def settle(timeoutS: Double = 10): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    Thread.sleep(50)
    while (synchronized(started != ended) && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def reset(): Unit = synchronized { bySpan.clear(); stageSpan.clear() }

  def totals(span: String): SparkTotals = totals(Seq(span))

  /** Totals summed over `spans`. */
  def totals(spans: Seq[String]): SparkTotals = synchronized {
    val as = spans.flatMap(bySpan.get)
    val ratios = as.flatMap(_.stageTimes.values).filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.toSeq)
      if (med > 0) ts.max / med else 1.0
    }
    SparkTotals(as.map(_.jobs).sum, as.map(_.tasks).sum, as.map(_.shWrite).sum,
      as.map(_.spill).sum, as.map(_.written).sum, if (ratios.isEmpty) 1.0 else ratios.max)
  }

  def spanNames: Set[String] = synchronized(bySpan.keySet.toSet)
}

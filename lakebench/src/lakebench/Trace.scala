package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call into a layer, made from the benchmark's own code.
  * Times are `System.nanoTime` values; `op` ties the spans of one
  * operation (a query, a lookup, an ingest epoch) together.
  */
final case class Span(id: Long, parent: Long, op: String, layer: String,
    name: String, start: Long, end: Long) {
  def dur: Long = end - start
  def json: String =
    s"""{"id":$id,"parent":$parent,"op":"$op","layer":"$layer","name":"$name",""" +
      s""""start_ns":$start,"end_ns":$end}"""
}

/** In-memory span recorder. When off, `span` runs its body and records
  * nothing, so the untraced run performs exactly the same calls.
  */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val opOf = new ThreadLocal[String] { override def initialValue(): String = "" }

  def newId(): Long = ids.incrementAndGet()

  /** run `body` as operation `op` on this thread (sets the span op id). */
  def inOp[A](op: String)(body: => A): A = {
    val prev = opOf.get
    opOf.set(op)
    try body finally opOf.set(prev)
  }

  /** run `body` with `parent` as the enclosing span, for children whose
    * parent span is recorded after the fact (a streaming epoch).
    */
  def under[A](parent: Long)(body: => A): A = {
    val prev = stack.get
    stack.set(parent :: prev)
    try body finally stack.set(prev)
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val id = newId()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0L), opOf.get, layer, name, t0, t1))
      }
    }

  def record(s: Span): Unit = if (on) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** per-layer self time: each span's duration minus the time its direct
    * children cover.
    */
  def selfByLayer: Map[String, Long] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => math.max(0L, s.dur - childNs.getOrElse(s.id, 0L))).sum
    }
  }

  def durations(layer: String, name: String): Seq[Double] =
    all.filter(s => s.layer == layer && s.name == name).map(_.dur / 1e9)

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, all.sortBy(_.start).map(_.json).asJava)
  }
}

object Tracer {
  val Off = new Tracer(false)
  /** off, for the dropped warm-up batch of a traced run; workloads that
    * tag samples by tracer count its samples on neither side
    */
  val Warm = new Tracer(false)
}

/** Task metrics summed per Spark job group. Every operation sets its own
  * group (`<op>:<phase>`) before calling into a layer, so tasks are
  * attributed to the operation and phase that caused them.
  */
final class GroupListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  final class Agg {
    var jobs = 0L
    var runMs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var outBytes = 0L
    def +=(o: Agg): Unit = {
      jobs += o.jobs; runMs += o.runMs; gcMs += o.gcMs; waitMs += o.waitMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
      outBytes += o.outBytes
    }
  }

  private val groups = scala.collection.mutable.Map.empty[String, Agg]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]
  private val stageSubmit = scala.collection.mutable.Map.empty[Int, Long]

  private def agg(g: String): Agg = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    agg(g).jobs += 1
    e.stageInfos.foreach(si => stageGroup(si.stageId) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "(none)")
    stageSubmit.get(e.stageId).foreach { t =>
      agg(g).waitMs += math.max(0L, e.taskInfo.launchTime - t)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, "(none)"))
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** summed metrics over every group whose name satisfies `p`. */
  def sum(p: String => Boolean): Agg = synchronized {
    val out = new Agg
    groups.foreach { case (g, a) => if (p(g)) out += a }
    out
  }
}

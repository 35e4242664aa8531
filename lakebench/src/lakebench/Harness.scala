package lakebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection

/** Shared state of one benchmark run. In a traced run (`traceMode`) the
  * measured batches mix untraced and traced ones; `tracer` is the
  * recorder of the batch in progress and `listener` collects task
  * metrics for the whole traced run.
  */
final class Ctx(val spark: SparkSession, val work: java.nio.file.Path, val seed: Long,
    val traceMode: Boolean) {
  val spans = new Tracer(true)
  val listener: Option[GroupListener] = if (traceMode) Some(new GroupListener) else None
  @volatile var tracer: Tracer = Tracer.Off

  val cores: Int = spark.sparkContext.defaultParallelism
  private val failures = new java.util.concurrent.atomic.AtomicLong(0)
  private val attempts = new java.util.concurrent.atomic.AtomicLong(0)
  private val firstFailure = new java.util.concurrent.atomic.AtomicReference[String](null)

  /** one attempted operation or check; `ok == false` counts it failed. */
  def attempt(ok: Boolean, what: => String): Boolean = {
    attempts.incrementAndGet()
    if (!ok) {
      failures.incrementAndGet()
      if (firstFailure.compareAndSet(null, what)) System.err.println(s"[lakebench] FAILED: $what")
    }
    ok
  }

  /** run an operation body as one attempt; an exception counts it failed. */
  def guarded[A](what: String)(body: => A): Option[A] =
    try {
      val a = body
      attempt(ok = true, what)
      Some(a)
    } catch {
      case e: Throwable =>
        attempt(ok = false, s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }

  def attempted: Long = attempts.get
  def failed: Long = failures.get

  /** set this thread's Spark job group, so the listener attributes the
    * tasks of the next calls to `g`; groups of operations traced by `tr`
    * carry the prefix "T|".
    */
  def group(tr: Tracer, g: String): Unit = {
    val name = if (tr.on) s"T|$g" else g
    spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
  }

  /** Run measured batches for about `seconds`: another batch starts while
    * at least half of it (judged by the previous batch) fits in the time
    * left. At least one batch runs.
    *
    * A traced run first runs one more batch under `Tracer.Warm` and drops
    * it: the first batch after set-up still runs 10-20% slower than later
    * ones, which would otherwise land on the untraced side. It then runs
    * at least four batches, untraced and traced in the order U T T U
    * repeated, so that a steady drift over the run cancels out of the
    * tracing overhead.
    */
  def batches[B](seconds: Double)(run: Int => B): Seq[Batch[B]] = {
    val warm = if (traceMode) 1 else 0
    val out = Vector.newBuilder[Batch[B]]
    var t0 = System.nanoTime()
    var i = 0
    var last = 0.0
    while (i < warm + (if (traceMode) 4 else 1) || (System.nanoTime() - t0) / 1e9 + last / 2 < seconds) {
      val traced = traceMode && i >= warm && (i - warm) % 4 % 3 != 0
      tracer = if (traced) spans else if (i < warm) Tracer.Warm else Tracer.Off
      val (b, ns) = try nanos(run(i)) finally tracer = Tracer.Off
      last = ns / 1e9
      val tag = if (traced) " (traced)" else if (i < warm) " (warm-up, dropped)" else ""
      System.err.println(f"[lakebench] batch $i: $last%.3f s$tag")
      if (i < warm) t0 = System.nanoTime() else out += Batch(b, last, traced)
      i += 1
    }
    out.result()
  }

  def nanos[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    (a, System.nanoTime() - t0)
  }
}

/** Row sink: runs a DataFrame's already-planned physical plan once and
  * returns the row count, an order-independent checksum (sum of the rows'
  * UnsafeRow hashes) and, if `flag` names a boolean column, the number of
  * rows where it is true. Executing `queryExecution.toRdd` reuses the plan
  * the catalyst phase built, so execution time carries no second round of
  * analysis and optimisation (a `write.format("noop")` would plan the
  * query again inside its own command).
  */
final case class SinkOut(rows: Long, checksum: Long, flagged: Long)

object Sink {
  def run(df: DataFrame, flag: Option[String] = None): SinkOut = {
    val schema = df.schema
    val fi = flag.map(schema.fieldIndex).getOrElse(-1)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      var f = 0L
      while (it.hasNext) {
        val row = it.next()
        if (fi >= 0 && !row.isNullAt(fi) && row.getBoolean(fi)) f += 1
        h += proj(row).hashCode()
        n += 1
      }
      Iterator((n, h, f))
    }.collect()
    SinkOut(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }
}

object Stats {
  /** linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One measured batch: its result, wall seconds, and whether it was traced. */
final case class Batch[B](out: B, sec: Double, traced: Boolean)

/** What the measured phase of a workload produced: the end-to-end
  * metrics of the untraced batches (`e2e`) and of the traced ones
  * (`tracedE2e`, traced runs only), the per-layer metrics (traced runs
  * only), and further named values printed for reading (`detail`).
  */
final case class PhaseOut(e2e: Seq[Metric], tracedE2e: Seq[Metric], layers: Seq[Metric],
    detail: Seq[Metric])

trait Workload {
  /** build inputs and warm up; returns the set-up seconds to report */
  def setup(ctx: Ctx): Double
  /** measure for `seconds` through `ctx.batches` */
  def phase(ctx: Ctx, seconds: Double): PhaseOut
}

package lakebench

import graft.SparkEntry

import org.apache.spark.sql.functions.{col, expr, size, split}

/** `dedup_curate`: one client in a closed loop of curation jobs over a
  * replicated near-duplicate corpus. A job (the batch) runs six entries
  * through `SparkEntry.queries`; an operation is one entry: build (which
  * includes any eager jobs the entry runs while building), plan, execute
  * into the row sink.
  */
final class DedupWorkload extends Workload {
  private val BaseDocs = 200L
  private val Reps = 4
  /** copies of the corpus the kernel timings run over, so that one pass
    * costs well over the launch of a Spark job
    */
  private val KernelCopies = 64
  private val Steps = Seq("q_dedup_exact", "q_quality_gopher", "q_dedup_minhash",
    "q_dedup_simhash", "q_dedup_lines", "q_dedup_cluster")
  /** the native kernels timed one by one over the corpus in a traced phase */
  private val Kernels = Seq(
    "graft_char_ngrams" -> "graft_char_ngrams(text, 3)",
    "graft_word_grams" -> "graft_word_grams(w, 2)",
    "graft_lines" -> "graft_lines(w, 10)",
    "graft_h60" -> "graft_h60(text)",
    "graft_minhash_hs" -> "graft_minhash_hs(w)",
    "graft_minhash_sig" -> "graft_minhash_sig(hs)")

  private var dir: String = _
  /** per step: (rows, checksum) of the set-up pass; every job must repeat it */
  private var want: Map[String, SinkOut] = Map.empty
  private var keepers = 0L

  def setup(ctx: Ctx): Double = {
    val s = ctx.spark
    val d = ctx.work.resolve("corpus")
    dir = d.toString
    val (_, genNs) = ctx.nanos(Gen.documents(s, d, ctx.seed, BaseDocs, Reps))
    // warm-up job, whose outputs every later job must reproduce
    val (first, warmNs) = ctx.nanos(job(ctx, "warm", None))
    want = first.map { case (name, _, out) => name -> out }.toMap
    // set-up pass checks (untimed): the recall floor and candidate
    // ceiling of the engine's dedup stress scenario, and a sane keeper count
    val docs = graft.Tables.documents(s, dir)
    val eligible = docs.filter(col("doc_id") % Reps === 0)
      .filter(size(split(col("text"), " ")) >= 20).count()
    val corpus = BaseDocs * Reps
    val pairs = want("q_dedup_minhash").rows
    val cliquePairs = Reps * (Reps - 1) / 2
    ctx.attempt(pairs >= eligible * cliquePairs * 9 / 10,
      s"minhash recall floor: $pairs pairs < 0.9 * $cliquePairs * $eligible cliques")
    ctx.attempt(pairs <= corpus * 30, s"minhash candidate blowup: $pairs pairs > 30 per doc")
    keepers = want("q_dedup_cluster").flagged
    ctx.attempt(keepers > 0 && keepers <= corpus / 2, s"cluster keeper count $keepers insane")
    (genNs + warmNs) / 1e9
  }

  /** one job: per step (name, seconds, sink output) */
  private def job(ctx: Ctx, tag: String, check: Option[Map[String, SinkOut]])
      : Seq[(String, Double, SinkOut)] =
    Steps.flatMap { name =>
      val op = s"fg:$tag-$name"
      val tr = ctx.tracer
      val t0 = System.nanoTime()
      val out = ctx.guarded(name)(tr.inOp(op) {
        tr.span("op", "step") {
          ctx.group(tr, s"$op:build")
          val df = tr.span("entry", "SparkEntry.queries")(SparkEntry.queries(name)(ctx.spark, dir))
          ctx.group(tr, s"$op:plan")
          tr.span("catalyst", "executedPlan")(df.queryExecution.executedPlan)
          ctx.group(tr, s"$op:exec")
          tr.span("exec", "sink")(
            Sink.run(df, if (name == "q_dedup_cluster") Some("is_keeper") else None))
        }
      })
      val sec = (System.nanoTime() - t0) / 1e9
      out.map { got =>
        check.foreach(w => ctx.attempt(got == w(name),
          s"$name job $tag: $got != set-up pass ${w(name)}"))
        (name, sec, got)
      }
    }

  def phase(ctx: Ctx, seconds: Double): PhaseOut = {
    val jobs = ctx.batches(seconds)(j => job(ctx, s"j$j", Some(want)).map(_._2))
    val (e2e, tracedE2e) = E2e.split(jobs)(identity)
    val traced = jobs.filter(_.traced)
    val layers =
      if (!ctx.traceMode) Nil
      else {
        // the per-step layers first: the kernel timings below are traced
        // calls of their own, outside the jobs
        val perStep = Seq(
          Layers.meanSpan(ctx, "entry.build_s", "entry", "SparkEntry.queries"),
          Layers.meanSpan(ctx, "catalyst.plan_s", "catalyst", "executedPlan")) ++
          Layers.exec(ctx, traced.map(_.out.size).sum) ++
          Layers.selfShares(ctx, traced.map(_.sec).sum)
        perStep ++ kernels(ctx)
      }
    PhaseOut(e2e, tracedE2e, layers, E2e.detail(jobs)(identity) ++ Seq(
      Metric("pairs_minhash", want("q_dedup_minhash").rows, "count"),
      Metric("pairs_simhash", want("q_dedup_simhash").rows, "count"),
      Metric("keepers", keepers, "count")))
  }

  /** Each native kernel timed as a traced noop `select` over
    * `KernelCopies` copies of the tokenised corpus, held in memory: one
    * unrecorded warm-up pass, then the median of three passes, less the
    * median of three passes of a baseline `select` of `text` alone (which
    * carries the job launch and the scan of the cached copies).
    */
  private def kernels(ctx: Ctx): Seq[Metric] = {
    val s = ctx.spark
    val base = graft.Tables.documents(s, dir)
      .select(col("text"), split(col("text"), " ").as("w"))
      .withColumn("hs", expr("graft_minhash_hs(w)"))
      .crossJoin(s.range(KernelCopies).select()).repartition(ctx.cores).cache()
    base.count()
    def pass(e: String): Unit = base.select(expr(e)).write.format("noop").mode("overwrite").save()
    def timed(layer: String, name: String, e: String): Double = {
      pass(e)
      Stats.median((0 until 3).map(_ => ctx.nanos(ctx.spans.span(layer, name)(pass(e)))._2 / 1e9))
    }
    try {
      val baseline = timed("exec", "kernel_baseline", "text")
      Metric("functions.baseline_s", baseline, "s") +: Kernels.map { case (k, e) =>
        Metric(s"functions.${k}_s", timed("functions", k, e) - baseline, "s")
      }
    } finally base.unpersist(blocking = true)
  }
}

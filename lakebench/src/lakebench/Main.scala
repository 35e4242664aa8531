package lakebench

import java.nio.file.{Files, Paths}

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <tpch_governed|ingest_lookup|dedup_curate> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * With `--trace 0` it sets the workload up, measures for `seconds` with
  * tracing off, and prints the end-to-end metrics. With `--trace 1` the
  * measured batches mix untraced and traced ones (see `Ctx.batches`);
  * it prints the per-layer metrics of the traced batches plus the
  * tracing overhead (traced minus untraced) of each end-to-end metric,
  * and writes the spans to `<out>/spans-<workload>.jsonl`. The last
  * line of stdout is one JSON object; exit code 1 means a correctness
  * check or an operation failed.
  */
object Main {

  /** per-layer metrics every workload prints (0 where a workload bypasses
    * the layer); the order is the printed order.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "entry.build_s" -> "s", "sql.build_s" -> "s", "catalyst.plan_s" -> "s",
    "exec.build_jobs" -> "count", "exec.task_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_read_bytes" -> "B", "exec.shuffle_write_bytes" -> "B",
    "exec.spill_bytes" -> "B", "exec.task_wait_s" -> "s",
    "functions.baseline_s" -> "s", "functions.graft_char_ngrams_s" -> "s",
    "functions.graft_word_grams_s" -> "s", "functions.graft_lines_s" -> "s",
    "functions.graft_h60_s" -> "s", "functions.graft_minhash_hs_s" -> "s",
    "functions.graft_minhash_sig_s" -> "s",
    "table.append_s" -> "s", "table.bytes_written" -> "B",
    "table.log_read_s" -> "s", "table.log_entries" -> "count",
    "table.meta_files" -> "count", "table.live_files" -> "count",
    "table.lookup_build_s" -> "s", "table.files_opened_per_lookup" -> "count",
    "table.compact_s" -> "s", "table.checkpoint_s" -> "s",
    "table.bytes_rewritten" -> "B", "table.bytes_stored_per_user_byte" -> "ratio",
    "sources.epoch_s" -> "s", "sources.rows_parsed" -> "count",
    "sources.corrupt_rows" -> "count") ++
    Layers.Names.map(l => s"self.$l" -> "s/s") ++
    E2e.Traced.map { case (n, u) => s"trace_overhead.$n" -> u }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, { System.err.println(s"[lakebench] missing --$k"); sys.exit(2) })
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    val workload: Workload = name match {
      case "tpch_governed" => new TpchWorkload
      case "ingest_lookup" => new IngestWorkload
      case "dedup_curate" => new DedupWorkload
      case other =>
        System.err.println(s"[lakebench] unknown workload $other"); sys.exit(2)
    }
    Files.createDirectories(work)

    val (spark, sessionNs) = {
      val t0 = System.nanoTime()
      val cores = Runtime.getRuntime.availableProcessors()
      val s = graft.GraftSession.builder()
        .master(s"local[$cores]")
        .appName(s"lakebench-$name")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      (s, System.nanoTime() - t0)
    }
    val ctx = new Ctx(spark, work, seed, trace)
    val code =
      try {
        val setupS = sessionNs / 1e9 + workload.setup(ctx)
        ctx.listener.foreach(spark.sparkContext.addSparkListener)
        val res =
          try workload.phase(ctx, seconds)
          finally ctx.listener.foreach { l =>
            org.apache.spark.LakebenchBus.drain(spark.sparkContext)
            spark.sparkContext.removeSparkListener(l)
          }
        res.detail.foreach(m => println(s"# $name ${m.name} = ${num(m.value)} ${m.unit}"))
        val metrics =
          if (!trace) Metric("setup_s", setupS, "s") +: res.e2e :+ retainedHeap()
          else {
            ctx.spans.write(out.resolve(s"spans-$name.jsonl"))
            val untraced = res.e2e.map(m => m.name -> m.value).toMap
            val overhead = res.tracedE2e.map(m =>
              Metric(s"trace_overhead.${m.name}", m.value - untraced(m.name), m.unit))
            val have = (res.layers ++ overhead).map(m => m.name -> m).toMap
            LayerMetrics.map { case (n, u) => have.getOrElse(n, Metric(n, 0.0, u)) }
          }
        val correct = ctx.failed == 0
        val body = metrics.map(m =>
          s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""").mkString(",")
        println(s"""{"correct":$correct,"attempted":${ctx.attempted},""" +
          s""""failed":${ctx.failed},"metrics":{$body}}""")
        if (correct) 0 else 1
      } catch {
        case e: Throwable =>
          System.err.println(s"[lakebench] $name aborted: $e")
          e.printStackTrace()
          3
      } finally spark.stop()
    sys.exit(code)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** heap in use after an explicit full GC at run end, in MB. */
  private def retainedHeap(): Metric = {
    val rt = Runtime.getRuntime
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    Metric("retained_heap_mb", (rt.totalMemory() - rt.freeMemory()) / 1048576.0, "MB")
  }
}

/** The end-to-end metrics every workload reports (besides setup_s and
  * retained_heap_mb, which Main adds).
  */
object E2e {
  /** end-to-end metrics a traced batch also measures, with units. */
  val Traced: Seq[(String, String)] = Seq("op_p50_s" -> "s", "batch_s" -> "s")

  def apply(opSeconds: Seq[Double], batchSeconds: Seq[Double]): Seq[Metric] = Seq(
    Metric("op_p50_s", Stats.median(opSeconds), "s"),
    Metric("batch_s", Stats.median(batchSeconds), "s"))

  /** (untraced, traced) end-to-end metrics of batches whose operations
    * took `ops(b)` seconds each; the traced side is empty in an untraced run
    */
  def split[B](batches: Seq[Batch[B]])(ops: B => Seq[Double]): (Seq[Metric], Seq[Metric]) = {
    def of(bs: Seq[Batch[B]]): Seq[Metric] =
      if (bs.isEmpty) Nil else E2e(bs.flatMap(b => ops(b.out)), bs.map(_.sec))
    val (t, u) = batches.partition(_.traced)
    (of(u), of(t))
  }

  /** sample counts, the 90th percentile and the throughput of the
    * untraced operations, printed for reading
    */
  def detail[B](batches: Seq[Batch[B]])(ops: B => Seq[Double]): Seq[Metric] = {
    val u = batches.filterNot(_.traced)
    val xs = u.flatMap(b => ops(b.out))
    Seq(Metric("op_p90_s", Stats.quantile(xs, 0.9), "s"),
      Metric("ops_per_s", xs.size / u.map(_.sec).sum, "1/s"),
      Metric("ops", xs.size, "count"), Metric("batches", u.size, "count"))
  }
}

/** Per-layer metrics derived from the tracer and the job-group listener. */
object Layers {
  val Names: Seq[String] = Seq("entry", "sql", "catalyst", "exec", "table", "sources")

  /** layer self time as a share of the traced batches' wall time */
  def selfShares(ctx: Ctx, wallSeconds: Double): Seq[Metric] = {
    val self = ctx.spans.selfByLayer
    Names.map(l => Metric(s"self.$l", self.getOrElse(l, 0L) / 1e9 / wallSeconds, "s/s"))
  }

  /** mean seconds per call of the spans named `name` in `layer` */
  def meanSpan(ctx: Ctx, metric: String, layer: String, name: String): Metric =
    Metric(metric, Stats.mean(ctx.spans.durations(layer, name)), "s")

  /** Spark task metrics of the traced foreground operations (job groups
    * starting with "T|fg:"), per operation.
    */
  def exec(ctx: Ctx, ops: Int): Seq[Metric] = ctx.listener.toSeq.flatMap { l =>
    val all = l.sum(_.startsWith("T|fg:"))
    val build = l.sum(g => g.startsWith("T|fg:") && g.endsWith(":build"))
    val n = math.max(1, ops).toDouble
    Seq(
      Metric("exec.build_jobs", build.jobs / n, "count"),
      Metric("exec.task_s", all.runMs / 1e3 / n, "s"),
      Metric("exec.gc_s", all.gcMs / 1e3 / n, "s"),
      Metric("exec.shuffle_read_bytes", all.shuffleRead / n, "B"),
      Metric("exec.shuffle_write_bytes", all.shuffleWrite / n, "B"),
      Metric("exec.spill_bytes", all.spill / n, "B"),
      Metric("exec.task_wait_s", all.waitMs / 1e3 / n, "s"))
  }
}

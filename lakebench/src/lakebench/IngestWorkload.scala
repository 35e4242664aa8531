package lakebench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.sources.JsonFileSource
import graft.table.{CommitLog, GraftTable}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger

/** `ingest_lookup`: writes beside reads on one table, two client threads.
  *
  * The writer drains the landed JSON-lines files with one
  * `Trigger.AvailableNow` `JsonFileSource` stream, one file per epoch;
  * each epoch is appended by `foreachBatch` with stats on the key
  * (`count`) and a bloom on `name`, and every `MaintEvery` epochs the same
  * thread runs `compactSmall` and then `checkpointMetadata`. One drain of
  * all files into a fresh table is a cycle (the batch); cycles repeat
  * until the measured time is up, so every cycle does identical work and
  * ends in an identical table state, which the end-of-cycle probe asserts.
  *
  * The reader runs a closed loop of `readEq` point lookups on keys the
  * current cycle has already committed, alternating the stats-pruned key
  * and the bloom-pruned name; each must return exactly the committed row.
  */
final class IngestWorkload extends Workload {
  private val NFiles = 4
  private val Rows = 1000
  private val MaintEvery = 2
  private val TargetBytes = 8L << 20
  private val ProbeKeys = 16
  private val Schema = "name STRING, size STRING, count INT, _corrupt_record STRING"

  private var land: Path = _
  private var userBytes = 0L
  private var cycleNo = 0
  /** end-of-cycle counts of the first cycle; every later cycle must match */
  private var reference: Option[Counts] = None

  private final case class Counts(rows: Long, corrupt: Long, parsed: Long, logEntries: Int,
      metaFiles: Int, liveFiles: Int, filesOpened: Int, storedBytes: Long)

  /** the table the reader probes, with the number of keys committed to it */
  private val readable = new AtomicReference[(GraftTable, Int)](null)

  def setup(ctx: Ctx): Double = {
    land = ctx.work.resolve("landing")
    val (bytes, landNs) = ctx.nanos(Gen.landing(land, ctx.seed, NFiles, Rows))
    userBytes = bytes
    // warm-up: one full cycle with the reader running
    val (_, warmNs) = ctx.nanos(withReader(ctx)(_ => probe(ctx, cycle(ctx))))
    (landNs + warmNs) / 1e9
  }

  /** run `body` with the lookup client running beside it */
  private def withReader[A](ctx: Ctx)(body: Reader => A): A = {
    readable.set(null)
    val reader = new Reader(ctx)
    reader.start()
    try body(reader) finally reader.halt()
  }

  def phase(ctx: Ctx, seconds: Double): PhaseOut = {
    val (cycles, lookups) = withReader(ctx) { reader =>
      (ctx.batches(seconds)(_ => cycle(ctx)), reader)
    }
    // end-of-cycle probes, after the reader has stopped
    cycles.foreach { b =>
      ctx.tracer = if (b.traced) ctx.spans else Tracer.Off
      try probe(ctx, b.out) finally ctx.tracer = Tracer.Off
    }
    val lookupSec = lookups.latencies.toSeq
    def lookupsUnder(tr: Tracer): Seq[Double] = lookupSec.filter(_._2 eq tr).map(_._1)
    def half(traced: Boolean): Seq[Metric] = {
      val bs = cycles.filter(_.traced == traced)
      if (bs.isEmpty) Nil
      else E2e(lookupsUnder(if (traced) ctx.spans else Tracer.Off), bs.map(_.sec))
    }
    val untraced = cycles.filterNot(_.traced)
    val last = cycles.last.out.counts
    val appendSec = untraced.flatMap(_.out.appendSec)
    val ops = lookupsUnder(Tracer.Off)
    val layers =
      if (!ctx.traceMode) Nil
      else {
        val l = ctx.listener.get
        val traced = cycles.filter(_.traced).map(_.out)
        val appendOut = l.sum(g => g.startsWith("T|") && g.endsWith(":append")).outBytes
        val compactOut = l.sum(g => g.startsWith("T|") && g.endsWith(":compact")).outBytes
        Seq(
          Layers.meanSpan(ctx, "table.append_s", "table", "append"),
          Metric("table.bytes_written", appendOut.toDouble / math.max(1, traced.map(_.appendSec.size).sum), "B"),
          Layers.meanSpan(ctx, "table.log_read_s", "table", "commitLog.entries"),
          Metric("table.log_entries", last.logEntries, "count"),
          Metric("table.meta_files", last.metaFiles, "count"),
          Metric("table.live_files", last.liveFiles, "count"),
          Layers.meanSpan(ctx, "table.lookup_build_s", "table", "readEq"),
          Metric("table.files_opened_per_lookup", last.filesOpened.toDouble / ProbeKeys, "count"),
          Layers.meanSpan(ctx, "table.compact_s", "table", "compactSmall"),
          Layers.meanSpan(ctx, "table.checkpoint_s", "table", "checkpointMetadata"),
          Metric("table.bytes_rewritten", compactOut.toDouble / math.max(1, traced.map(_.compactions).sum), "B"),
          Metric("table.bytes_stored_per_user_byte", last.storedBytes.toDouble / userBytes, "ratio"),
          Metric("sources.epoch_s", Stats.mean(traced.flatMap(_.epochSec)), "s"),
          Metric("sources.rows_parsed", last.parsed, "count"),
          Metric("sources.corrupt_rows", last.corrupt, "count")) ++
          Layers.exec(ctx, lookupSec.count(_._2.on)) ++
          Layers.selfShares(ctx, cycles.filter(_.traced).map(_.sec).sum)
      }
    PhaseOut(half(false), if (ctx.traceMode) half(true) else Nil, layers, Seq(
      Metric("ingest_rows_per_s", NFiles.toDouble * Rows / Stats.median(untraced.map(_.sec)), "1/s"),
      Metric("commit_p50_s", Stats.median(appendSec), "s"),
      Metric("commit_p90_s", Stats.quantile(appendSec, 0.9), "s"),
      Metric("lookup_p50_s", Stats.median(ops), "s"),
      Metric("lookup_p90_s", Stats.quantile(ops, 0.9), "s"),
      Metric("lookups_per_s", ops.size / untraced.map(_.sec).sum, "1/s"),
      Metric("lookups", ops.size, "count"),
      Metric("commits", appendSec.size, "count"),
      Metric("cycles", untraced.size, "count"),
      Metric("bytes_stored_per_user_byte", last.storedBytes.toDouble / userBytes, "ratio"),
      Metric("log_entries", last.logEntries, "count"),
      Metric("files_opened_per_lookup", last.filesOpened.toDouble / ProbeKeys, "count"),
      Metric("corrupt_rows", last.corrupt, "count")))
  }

  private final class Cycle(val table: GraftTable, val dir: Path, val sec: Double,
      val appendSec: Seq[Double], val epochSec: Seq[Double], val compactions: Int,
      val corrupt: Long, val parsed: Long) {
    var counts: Counts = _
  }

  private def cycle(ctx: Ctx): Cycle = {
    val s = ctx.spark
    val tr = ctx.tracer
    val c = cycleNo
    cycleNo += 1
    val dir = ctx.work.resolve(s"ingest/cycle$c")
    val t0 = System.nanoTime()
    val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val table = GraftTable.createOrReplace(s, dir.resolve("table").toString)
    val corrupt = s.sparkContext.longAccumulator(s"corrupt$c")
    val appendNs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    val tableNs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    val epochSpan = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    var compactions = 0
    val q = JsonFileSource(land.toString, Schema, maxFilesPerTrigger = 1).load(s)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val op = s"w:c$c-e$id"
        val sid = tr.newId()
        epochSpan.put(id, sid)
        // the stream thread carries its own job group (the query's run id);
        // it is restored once the epoch's table calls are done
        val streamGroup = s.sparkContext.getLocalProperty("spark.jobGroup.id")
        try tr.inOp(op)(tr.under(sid) {
          ctx.group(tr, s"$op:append")
          val ci = b.schema.fieldIndex("_corrupt_record")
          val clean = b.filter { r: Row =>
            if (!r.isNullAt(ci)) { corrupt.add(1L); false } else true
          }.drop("_corrupt_record")
          val (_, aNs) = ctx.nanos(tr.span("table", "append")(
            table.append(clean.coalesce(1), statsCols = Seq("count"), bloomCols = Seq("name"))))
          appendNs.put(id, aNs)
          readable.set((table, ((id + 1) * Rows).toInt))
          var mNs = 0L
          if ((id + 1) % MaintEvery == 0) {
            ctx.group(tr, s"$op:compact")
            mNs += ctx.nanos(tr.span("table", "compactSmall")(
              table.compactSmall(TargetBytes, statsCols = Seq("count"), bloomCols = Seq("name"))))._2
            ctx.group(tr, s"$op:checkpoint")
            mNs += ctx.nanos(tr.span("table", "checkpointMetadata")(table.checkpointMetadata()))._2
            compactions += 1
          }
          tableNs.put(id, aNs + mNs)
        })
        finally {
          if (streamGroup == null) s.sparkContext.clearJobGroup()
          else s.sparkContext.setJobGroup(streamGroup, streamGroup, interruptOnCancel = true)
        }
        ()
      }
      .start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq.filter(p => tableNs.containsKey(p.batchId))
    val epochSec = progress.map { p =>
      val trig = p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + wallToNano
      tr.record(Span(epochSpan.get(p.batchId), 0L, s"w:c$c-e${p.batchId}", "sources", "epoch",
        start, start + trig * 1000000L))
      math.max(0.0, trig / 1e3 - tableNs.get(p.batchId) / 1e9)
    }
    new Cycle(table, dir, sec, appendNs.values().asScala.map(_ / 1e9).toSeq, epochSec,
      compactions, corrupt.value, progress.map(_.numInputRows).sum)
  }

  /** end-of-cycle probe (outside the cycle's time): table metadata counts
    * and the cycle's correctness checks; the counts must equal those of
    * the run's first cycle exactly
    */
  private def probe(ctx: Ctx, c: Cycle): Unit = {
    val tr = ctx.tracer
    val t = c.table
    val entries = (0 until 3).map(_ => tr.span("table", "commitLog.entries")(t.commitLog.entries())).last
    val rnd = new scala.util.Random(ctx.seed * 17)
    val opened = (0 until ProbeKeys).map { j =>
      val k = rnd.nextInt(NFiles * Rows)
      if (j % 2 == 0) t.prunedFileCountEq("count", k)
      else t.prunedFileCountEq("name", Gen.item(ctx.seed, k).name)
    }.sum
    val stored = {
      val w = Files.walk(c.dir.resolve("table"))
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally w.close()
    }
    val counts = Counts(t.read().count(), c.corrupt, c.parsed, entries.size,
      t.commitLog.metaFileCount, CommitLog.stateFrom(entries)._1.size, opened, stored)
    c.counts = counts
    ctx.attempt(counts.rows == NFiles.toLong * Rows, s"ingest kept ${counts.rows} rows, want ${NFiles * Rows}")
    ctx.attempt(counts.corrupt == NFiles, s"ingest counted ${counts.corrupt} malformed lines, want $NFiles")
    ctx.attempt(counts.parsed == NFiles.toLong * (Rows + 1),
      s"ingest parsed ${counts.parsed} lines, want ${NFiles * (Rows + 1)}")
    reference match {
      case None => reference = Some(counts)
      case Some(ref) => ctx.attempt(counts == ref, s"cycle counts $counts differ from the first cycle's $ref")
    }
  }

  /** the lookup client: a closed loop of point reads on committed keys;
    * records (seconds, tracer in use) per lookup
    */
  private final class Reader(ctx: Ctx) extends Thread("lakebench-reader") {
    @volatile private var halted = false
    val latencies = ArrayBuffer.empty[(Double, Tracer)]
    private val rnd = new scala.util.Random(ctx.seed * 101 + cycleNo)

    def halt(): Unit = { halted = true; join() }

    override def run(): Unit = {
      var i = 0
      while (!halted) {
        val cur = readable.get
        if (cur == null) Thread.sleep(2)
        else {
          val (t, n) = cur
          val key = rnd.nextInt(n)
          val want = Gen.item(ctx.seed, key)
          val op = s"fg:l$cycleNo-$i"
          val byName = i % 2 == 1
          val tr = ctx.tracer
          val t0 = System.nanoTime()
          val rows = ctx.guarded(s"lookup $key")(tr.inOp(op) {
            tr.span("op", "lookup") {
              ctx.group(tr, s"$op:build")
              val df = tr.span("table", "readEq")(
                if (byName) t.readEq("name", want.name) else t.readEq("count", key))
              ctx.group(tr, s"$op:exec")
              tr.span("exec", "collect")(df.select("name", "size", "count").collect())
            }
          })
          latencies += (((System.nanoTime() - t0) / 1e9, tr))
          rows.foreach { rs =>
            ctx.attempt(rs.length == 1 && rs(0).getString(0) == want.name &&
              rs(0).getString(1) == want.size && rs(0).getInt(2) == key,
              s"lookup of committed key $key returned ${rs.mkString(",")}")
          }
          i += 1
        }
      }
    }
  }
}

package lakebench

import graft.SparkEntry
import graft.sql.{GraftSql, TpchGoverned}
import graft.table.GraftCatalog

/** `tpch_governed`: one client in a closed loop runs nine TPC-H texts
  * of `TpchGoverned.all` over governed tables, each round in a seeded
  * order. An operation is one query: build through `GraftSql.sql`, plan
  * (`executedPlan`), execute into the row sink. A batch is one round.
  *
  * The nine span the plan shapes of the full set: scan-aggregate (Q1,
  * Q6), star and chain joins (Q3, Q5, Q12), an outer join (Q13), an IN
  * subquery with HAVING (Q18) and EXISTS / NOT EXISTS (Q4, Q21). They are
  * also chosen so that the middle of their latencies is dense (five
  * texts within about 10% of each other); with a gap there, the median
  * would jump between the texts on either side of it. The full 23-text
  * round (about 15 s on 4 cores, almost all of it fixed per-query cost)
  * does not fit the run budget; GraftSqlTpchSpec keeps the parity of
  * all 23.
  */
final class TpchWorkload extends Workload {
  private val Sf = 0.002
  private val Texts = Seq("q_sql_q1", "q_sql_q3", "q_sql_q4", "q_sql_q5", "q_sql_q6",
    "q_sql_q12", "q_sql_q13", "q_sql_q18", "q_sql_q21")
  private val texts = TpchGoverned.all.filter(t => Texts.contains(t._1))
  private var cat: GraftCatalog = _
  /** per query: the sink output of its raw-parquet twin entry */
  private var want: Map[String, SinkOut] = Map.empty

  def setup(ctx: Ctx): Double = {
    val s = ctx.spark
    val raw = ctx.work.resolve("tpch_raw")
    val (_, genNs) = ctx.nanos(Gen.tpch(s, raw, ctx.seed, Sf))
    cat = GraftCatalog(s, ctx.work.resolve("tpch_wh").toString)
    val (_, loadNs) = ctx.nanos(TpchGoverned.load(s, cat, raw.toString))
    // expected results (untimed): each text's raw-parquet q_sql_* twin
    want = texts.map { case (name, _) =>
      name -> Sink.run(SparkEntry.queries(name)(s, raw.toString))
    }.toMap
    // warm-up round through the measured path
    val (_, warmNs) = ctx.nanos(round(ctx, -1))
    (genNs + loadNs + warmNs) / 1e9
  }

  /** one round in a seeded order; returns per-query seconds. Each result
    * (row count and order-independent checksum) must equal its twin's.
    */
  private def round(ctx: Ctx, r: Int): Seq[Double] = {
    val order = new scala.util.Random(ctx.seed * 31 + r).shuffle(texts)
    order.flatMap { case (name, text) =>
      val op = s"fg:q$r-$name"
      val tr = ctx.tracer
      val t0 = System.nanoTime()
      val res = ctx.guarded(name)(tr.inOp(op) {
        tr.span("op", "query") {
          ctx.group(tr, s"$op:build")
          val df = tr.span("sql", "GraftSql.sql")(GraftSql.sql(ctx.spark, cat, text))
          ctx.group(tr, s"$op:plan")
          tr.span("catalyst", "executedPlan")(df.queryExecution.executedPlan)
          ctx.group(tr, s"$op:exec")
          tr.span("exec", "sink")(Sink.run(df))
        }
      })
      val sec = (System.nanoTime() - t0) / 1e9
      res.map { got =>
        ctx.attempt(got == want(name), s"$name round $r: governed $got != raw-parquet twin ${want(name)}")
        sec
      }
    }
  }

  def phase(ctx: Ctx, seconds: Double): PhaseOut = {
    val rounds = ctx.batches(seconds)(r => round(ctx, r))
    val (e2e, tracedE2e) = E2e.split(rounds)(identity)
    val traced = rounds.filter(_.traced)
    val layers =
      if (!ctx.traceMode) Nil
      else Seq(
        Layers.meanSpan(ctx, "sql.build_s", "sql", "GraftSql.sql"),
        Layers.meanSpan(ctx, "catalyst.plan_s", "catalyst", "executedPlan")) ++
        Layers.exec(ctx, traced.map(_.out.size).sum) ++ Layers.selfShares(ctx, traced.map(_.sec).sum)
    PhaseOut(e2e, tracedE2e, layers, E2e.detail(rounds)(identity))
  }
}

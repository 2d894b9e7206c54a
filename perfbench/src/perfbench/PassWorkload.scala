package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** A single client running a fixed set of registered queries in a seeded
  * order per pass (closed loop), each through the noop sink. */
final case class PassSpec(name: String, queries: Seq[String])

object Workloads {
  /** Scan, join, aggregate, window, set and scalar-function work in the
    * engine layer; a fixed subset of the TPC-H, Relational, Scalar and
    * Events inventories whose warm pass fits the run length. */
  val olapBatch: PassSpec = PassSpec("olap_batch", Seq(
    "tpch_q01", "tpch_q03", "tpch_q05", "window_qualify", "agg_hll_merge",
    "profile_customer", "events_hourly"))

  /** Eager DataFrame construction (index builds), many small jobs and the
    * driver gaps between them: the named LLM-pipeline targets. */
  val llmPipeline: PassSpec = PassSpec("llm_pipeline", Seq(
    "semdedup_keep", "dedup_streaming_admit", "bm25_index_search", "hybrid_rrf",
    "ann_ivf_pq", "dedup_simhash", "dedup_minhash_lsh", "fuzzy_join_names"))
}

final class PassWorkload(spec: PassSpec) extends Workload {
  private val fns = graft.SparkEntry.queries
  private val ids = new AtomicLong(0)
  private val prepFailures = mutable.ArrayBuffer.empty[String]
  private var firstPassCodegen = Codegen.Snap(0, 0)

  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(spec.queries)

  def streamHash(seed: Long): String =
    Hash.sha256((0 until 64).flatMap(order(seed, _)).mkString("\n"))

  /** Attach the fixtures, run every query once writing its result for the
    * oracle check, then one unmeasured pass through the noop sink: on a
    * 4-core box the JIT is still compiling hot code during the first
    * passes. */
  def prepare(ctx: RunContext): Unit = {
    graft.Graft.attach(ctx.spark, ctx.data)
    order(ctx.args.seed, 0).foreach { name =>
      try fns(name)(ctx.spark, ctx.data).coalesce(1).write.mode("overwrite")
        .parquet(ctx.work(s"results/$name").toString)
      catch { case e: Throwable => prepFailures += s"query $name (warm-up): ${Errors.brief(e)}" }
    }
    order(ctx.args.seed, 0).foreach(run(ctx, _, 0))
  }

  private def run(ctx: RunContext, name: String, pass: Int): Stmt = {
    val id = ids.incrementAndGet()
    val sc = ctx.spark.sparkContext
    sc.setLocalProperty(Ledger.StmtProp, id.toString)
    val t0 = Clock.now
    var t1 = t0
    val err =
      try {
        val df = fns(name)(ctx.spark, ctx.data)
        t1 = Clock.now
        df.write.mode("overwrite").format("noop").save()
        None
      } catch { case e: Throwable => Some(Errors.brief(e)) }
      finally sc.setLocalProperty(Ledger.StmtProp, null)
    val t2 = Clock.now
    if (t1 == t0) t1 = t2
    Stmt(id, "query", name, hot = false, pass, t0, t2, err,
      Seq(Span("construct", t0, t1), Span("execute", t1, t2)))
  }

  /** Whole passes until the run length is used up; the pass running at the
    * deadline completes. */
  def measure(ctx: RunContext): Seq[Stmt] = {
    val out = mutable.ArrayBuffer.empty[Stmt]
    val deadline = Clock.now + ctx.args.seconds * 1000
    val codegen0 = Codegen.snapshot()
    var pass = 1
    while (Clock.now < deadline) {
      order(ctx.args.seed, pass).foreach(n => out += run(ctx, n, pass))
      if (pass == 1) firstPassCodegen = Codegen.snapshot().minus(codegen0)
      pass += 1
    }
    out.toSeq
  }

  /** Queries with a DuckDB oracle are compared by the Python side; the
    * others run again here and must reproduce their warm-up result. */
  def check(ctx: RunContext): Checks = {
    val oracle = graft.SparkEntry.oracleSql
    val entries = spec.queries.map { name =>
      val o = new Json.Obj().put("name", name)
        .put("result", ctx.work(s"results/$name").toString)
      oracle.get(name) match {
        case Some(sql) => o.put("oracle_sql", sql)
        case None =>
          try {
            fns(name)(ctx.spark, ctx.data).coalesce(1).write.mode("overwrite")
              .parquet(ctx.work(s"results_end/$name").toString)
            o.put("repeat", ctx.work(s"results_end/$name").toString)
          } catch { case e: Throwable => prepFailures += s"query $name (repeat): ${Errors.brief(e)}" }
      }
      o
    }
    Checks(spec.queries.size, prepFailures.toSeq, Json.Arr(entries))
  }

  private def passes(stmts: Seq[Stmt]): Seq[Seq[Stmt]] =
    stmts.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)

  private def wallS(pass: Seq[Stmt]): Double = (pass.map(_.end).max - pass.map(_.start).min) / 1000.0

  def detail(ctx: RunContext, stmts: Seq[Stmt]): Json.Obj = {
    val ps = passes(stmts)
    val perQuery = new Json.Obj()
    stmts.groupBy(_.label).toSeq.sortBy(_._1).foreach { case (k, g) =>
      perQuery.put(k, Stats.median(g.map(_.wallMs)))
    }
    val passS = ps.map(wallS)
    new Json.Obj().put("passes", ps.size)
      .put("pass_s", Stats.median(passS))
      .put("pass_times_s", Json.Arr(passS.map(Json.Num)))
      .put("query_median_ms", perQuery)
  }

  /** Counters come from the first measured pass, which runs the same
    * statements in the same order for a given seed, so they repeat exactly;
    * times are per pass over every measured pass. */
  def perLayer(ctx: RunContext, stmts: Seq[Stmt], layers: Layers): Json.Obj = {
    val ps = passes(stmts)
    val first = ps.head
    val o = layers.engineMetrics(first, wallS(first), 4)
    val construct = stmts.flatMap(_.spans.filter(_.name == "construct")).map(s => s.end - s.start)
    val constructJobs = first.map { s =>
      val c = s.spans.find(_.name == "construct").get
      layers.jobsOf.getOrElse(s.id, Nil).count(j => j.start >= c.start - 1 && j.start <= c.end + 1)
    }.sum
    o.put("pass_s", Stats.median(ps.map(wallS)))
      .put("construct.s_per_pass", construct.sum / 1000.0 / ps.size)
      .put("construct.jobs_per_pass", constructJobs.toDouble)
      .put("sqlext.parse_ms_p50", Stats.median(first.map(layers.phaseMs(_, "parsing"))))
      .put("engine.codegen_compiles", firstPassCodegen.compiles.toDouble)
      .put("engine.codegen_compile_ms", firstPassCodegen.compileMs)
  }
}

object Errors {
  def brief(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).linesIterator.take(1).mkString.take(300)
}

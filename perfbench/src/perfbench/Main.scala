package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up, measure for `--seconds`, check,
  * and write the run's record as JSON to `--out`.
  *
  * The engine is driven only through its public entry points: the query
  * functions registered in `graft.SparkEntry.queries`, `graft.Graft`
  * (`session`, `attach`, `sql`), `graft.server.GraftRestServer.start` plus
  * HTTP `POST /sql`, and the lake SQL grammar. With `--trace 1` the run also
  * records spans and listener counters (see [[Ledger]], [[Layers]]). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: Path, work: Path, out: Path, launchMs: Double)

  /** Exits explicitly: the REST server's pool and Spark keep non-daemon
    * threads alive. */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("data")).toAbsolutePath,
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("out")).toAbsolutePath,
      kv("launch-ms").toDouble)
    val workload: Workload = a.workload match {
      case "olap_batch" => new PassWorkload(Workloads.olapBatch)
      case "llm_pipeline" => new PassWorkload(Workloads.llmPipeline)
      case "interactive_mixed" => new InteractiveWorkload
      case other => sys.error(s"unknown workload '$other'")
    }
    val spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    if (a.trace) spark.sparkContext.addSparkListener(Ledger.Jobs)
    val contextReady = Clock.now

    val prepStart = Clock.now
    val ctx = new RunContext(spark, a)
    workload.prepare(ctx)
    val prepMs = Clock.now - prepStart
    val setupS = (Clock.now - a.launchMs) / 1000.0

    if (a.trace) { Ledger.drain(spark); Ledger.clear() }
    val measured = workload.measure(ctx)
    val layers =
      if (!a.trace) None
      else {
        Ledger.drain(spark)
        Some(new Layers(measured, Ledger.jobList, Ledger.stages, Ledger.qes,
          System.identityHashCode(spark)))
      }
    val checks = workload.check(ctx)

    val out = new Json.Obj()
    out.put("workload", a.workload).put("seed", a.seed.toDouble)
      .put("stream_sha256", workload.streamHash(a.seed))
      .put("setup_s", setupS).put("rss_peak_mb", Proc.rssPeakMb)
      .put("setup_parts_s", new Json.Obj().put("launch_to_context", (contextReady - a.launchMs) / 1000)
        .put("prepare", prepMs / 1000))
      .put("statements", measured.size.toDouble)
      .put("failures", Json.Arr((measured.filter(_.error.nonEmpty)
        .map(s => s"${s.kind} ${s.label}: ${s.error.get}") ++ checks.failures).map(Json.Str)))
      .put("checks_attempted", checks.attempted.toDouble)
      .put("end_to_end", Metrics.endToEnd(measured))
      .put("workload_detail", workload.detail(ctx, measured))
      .put("oracle_checks", checks.oracle)
    layers.foreach { l =>
      val trace = a.work.resolve("trace.jsonl")
      out.put("per_layer", workload.perLayer(ctx, measured, l))
      l.writeSpans(trace)
      out.put("trace_file", trace.toString)
      out.put("ledger", l.coverage)
    }
    workload.close(ctx)
    spark.stop()
    Files.writeString(a.out, out.render + "\n")
  }
}

/** Shared state of one run. */
final class RunContext(val spark: SparkSession, val args: Main.Args) {
  val data: String = args.data.toString
  def work(name: String): Path = args.work.resolve(name)
}

/** What a workload's correctness checks found; `oracle` lists the result
  * files the Python side compares with DuckDB. */
final case class Checks(attempted: Int, failures: Seq[String], oracle: Json.Value)

trait Workload {
  def prepare(ctx: RunContext): Unit
  def measure(ctx: RunContext): Seq[Stmt]
  def check(ctx: RunContext): Checks
  def streamHash(seed: Long): String
  def detail(ctx: RunContext, stmts: Seq[Stmt]): Json.Obj
  def perLayer(ctx: RunContext, stmts: Seq[Stmt], layers: Layers): Json.Obj
  def close(ctx: RunContext): Unit = ()
}

object Proc {
  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Spark's own codegen counters (`CodegenMetrics`, a process-wide
  * Dropwizard registry): compilations and their total time. */
object Codegen {
  final case class Snap(compiles: Long, compileMs: Double) {
    def minus(o: Snap): Snap = Snap(compiles - o.compiles, compileMs - o.compileMs)
  }
  def snapshot(): Snap = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    Snap(h.getCount, s.getMean * h.getCount)
  }
}

/** Quantiles are Harrell-Davis estimates: a Beta-weighted average of all
  * order statistics. With a few distinct queries in a pass the plain sample
  * median jumps from one query's latency to the next when two queries swap
  * ranks; the weighted estimate moves smoothly. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else if (xs.size == 1) xs.head
    else {
      val s = xs.sorted
      val n = s.size
      val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
      val cdf = (0 to n).map(i => org.apache.commons.math3.special.Beta.regularizedBeta(i.toDouble / n, a, b))
      s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
    }

  /** The highest percentile with at least ten samples above it, and that
    * percentile; the median when there are fewer than 21 samples. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 21) (median(xs), 50.0)
    else { val q = (xs.size - 10).toDouble / xs.size; (quantile(xs, q), 100.0 * q) }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)
}

object Metrics {
  /** End-to-end metrics over the measured statements: reads are every
    * statement that is not a lake commit. `query_geomean_ms` is the
    * geometric mean of every read's latency, so each query or template
    * counts as often as it ran (equally often in a pass workload). */
  def endToEnd(stmts: Seq[Stmt]): Json.Obj = {
    val reads = stmts.filter(s => s.kind != "commit" && s.error.isEmpty)
    val span = if (stmts.isEmpty) 0.0 else (stmts.map(_.end).max - stmts.map(_.start).min) / 1000.0
    val lat = reads.map(_.wallMs)
    val (tail, tailPct) = Stats.tail(lat)
    new Json.Obj()
      .put("read_qps", reads.size / math.max(span, 1e-3))
      .put("read_p50_ms", Stats.median(lat))
      .put("read_tail_ms", tail).put("read_tail_percentile", tailPct)
      .put("read_samples", lat.size)
      .put("query_geomean_ms", Stats.geomean(lat))
      .put("measured_s", span)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  sealed trait Value { def render: String }
  final case class Str(s: String) extends Value {
    def render: String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
  final case class Num(d: Double) extends Value {
    def render: String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.math.BigDecimal.valueOf(d).toPlainString
  }
  final case class Arr(xs: Seq[Value]) extends Value {
    def render: String = xs.map(_.render).mkString("[", ",", "]")
  }
  final class Obj extends Value {
    private val fields = mutable.LinkedHashMap.empty[String, Value]
    def put(k: String, v: Value): Obj = { fields(k) = v; this }
    def put(k: String, v: String): Obj = put(k, Str(v))
    def put(k: String, v: Double): Obj = put(k, Num(v))
    def render: String = fields.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }
}

object Hash {
  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString
}

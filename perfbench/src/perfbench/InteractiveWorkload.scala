package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Three reader clients and one writer client, each a closed loop over REST
  * `POST /sql`.
  *
  * Readers send short dashboard statements from a seeded template set over
  * the path-qualified fixtures and one lake table. A share of them comes
  * from a hot set of exact repeats, Zipf-skewed and smaller than the plan
  * cache; the rest carry a fresh literal that never repeats. One template
  * can be answered from an aggregate reflection set-up creates. The writer
  * upserts batches over a fixed key space with `MERGE INTO LAKE ... KEY`, so
  * the table's live size levels off while every commit retires the cached
  * plans pinned to the table. */
final class InteractiveWorkload extends Workload {
  import InteractiveWorkload._

  private val ids = new AtomicLong(0)
  private val failures = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.ArrayBuffer.empty[Json.Obj]
  private val model = mutable.Map.empty[Long, (Long, String)]
  private val commitDisk = mutable.ArrayBuffer.empty[(Long, Long, Long)] // files, bytes, logical bytes
  private var port = 0
  private var liveFiles0 = 0L
  private var planCache0 = (0, 0L, 0L)
  private var planCache1 = (0, 0L, 0L)
  private var codegen = Codegen.Snap(0, 0)
  private lazy val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def lakeDir(ctx: RunContext) = ctx.work("lake/kv").toString
  private def bind(ctx: RunContext, sql: String) =
    sql.replace(DataToken, ctx.data).replace(LakeToken, lakeDir(ctx))

  def streamHash(seed: Long): String = {
    val reads = (0 until Readers).flatMap(c => readerScript(seed, c).take(256).map(_.sql))
    val writes = writerScript(seed).take(64).map(_.sql)
    Hash.sha256((reads ++ writes).mkString("\n"))
  }

  def prepare(ctx: RunContext): Unit = {
    val spark = ctx.spark
    graft.Graft.sql(spark, s"CREATE LAKE '${lakeDir(ctx)}' AS SELECT id AS k, " +
      s"CAST(0 AS BIGINT) AS v, 'init' AS note FROM range(0, $KeySpace)").collect()
    (0L until KeySpace).foreach(k => model(k) = (0L, "init"))
    val reflDir = ctx.work("reflections/orders_status_priority").toString
    Ledger.reflectionPath = reflDir
    graft.Graft.sql(spark, s"CREATE REFLECTION perfbench_orders USING PATH '$reflDir' AS " +
      bind(ctx, ReflectionSql)).collect()
    port = graft.server.GraftRestServer.start(spark)
    // Warm-up, with the clients' concurrency: every template once with
    // literals outside the hot set, and one commit.
    val w = writerScript(ctx.args.seed ^ 0x5eed).next()
    val warm = (0 until Readers).map(c => new Thread(() =>
      Templates.indices.filter(_ % Readers == c)
        .foreach(t => post(ctx, bind(ctx, Templates(t).fresh(-1, 0)))))) :+
      new Thread(() =>
        if (post(ctx, bind(ctx, w.sql))._1) w.rows.foreach { case (k, v, n) => model(k) = (v, n) })
    warm.foreach(_.start())
    warm.foreach(_.join())
    liveFiles0 = liveFiles(ctx)
  }

  private def liveFiles(ctx: RunContext): Long =
    ctx.spark.sql(s"SELECT DISTINCT input_file_name() FROM lake_scan('${lakeDir(ctx)}')").count()

  /** (ok, body) of one `POST /sql`. */
  private def post(ctx: RunContext, sql: String): (Boolean, String) = {
    val body = "{\"sql\": " + Json.Str(sql).render + ", \"limit\": 1000}"
    val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/sql"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    val ok = resp.statusCode() == 200 && !resp.body().startsWith("{\"error\"")
    (ok, resp.body())
  }

  private def timed(ctx: RunContext, kind: String, label: String, hot: Boolean,
                    sql: String): (Stmt, String) = {
    val parseMs =
      if (!ctx.args.trace) 0.0
      else {
        val t = Clock.now
        try ctx.spark.sessionState.sqlParser.parsePlan(sql) catch { case _: Exception => () }
        Clock.now - t
      }
    val id = ids.incrementAndGet()
    val t0 = Clock.now
    val (ok, body) =
      try post(ctx, sql) catch { case e: Exception => (false, Errors.brief(e)) }
    val t1 = Clock.now
    val err = if (ok) None else Some(body.take(300))
    (Stmt(id, kind, label, hot, 1, t0, t1, err, Seq(Span("rest", t0, t1)),
      body.length.toLong, parseMs), body)
  }

  def measure(ctx: RunContext): Seq[Stmt] = {
    val seed = ctx.args.seed
    val deadline = Clock.now + ctx.args.seconds * 1000
    planCache0 = graft.accel.PlanCache.stats
    val codegen0 = Codegen.snapshot()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Stmt]()
    val readers = (0 until Readers).map { c =>
      new Thread(() => {
        val it = readerScript(seed, c)
        var sampledHot = Set.empty[String]
        var fresh = 0
        while (Clock.now < deadline) {
          val r = it.next()
          val sql = bind(ctx, r.sql)
          val (s, body) = timed(ctx, "read", r.template, r.hot, sql)
          results.add(s)
          if (!r.hot) fresh += 1
          val sample = r.static && s.error.isEmpty &&
            ((r.hot && !sampledHot(r.sql)) || (!r.hot && fresh % 5 == 1))
          if (sample) {
            if (r.hot) sampledHot += r.sql
            samples.synchronized {
              samples += new Json.Obj().put("template", r.template)
                .put("duckdb_sql", DuckDb.translate(sql)).put("response", body)
            }
          }
        }
      }, s"perfbench-reader-$c")
    }
    val writer = new Thread(() => {
      val it = writerScript(seed)
      var before = Disk.listing(Path.of(lakeDir(ctx)))
      while (Clock.now < deadline) {
        val w = it.next()
        val (s, _) = timed(ctx, "commit", "merge", hot = false, bind(ctx, w.sql))
        results.add(s)
        if (s.error.isEmpty) {
          w.rows.foreach { case (k, v, n) => model(k) = (v, n) }
          val after = Disk.listing(Path.of(lakeDir(ctx)))
          val added = after.keySet -- before.keySet
          commitDisk += ((added.size.toLong, added.toSeq.map(after).sum, w.logicalBytes))
          before = after
        }
      }
    }, "perfbench-writer")
    (readers :+ writer).foreach(_.start())
    (readers :+ writer).foreach(_.join())
    planCache1 = graft.accel.PlanCache.stats
    codegen = Codegen.snapshot().minus(codegen0)
    results.asScala.toSeq.sortBy(_.start)
  }

  /** The lake table must equal the model of every acknowledged commit;
    * sampled reader results go to the Python side for the DuckDB check. */
  def check(ctx: RunContext): Checks = {
    val rows = ctx.spark.sql(s"SELECT k, v, note FROM lake_scan('${lakeDir(ctx)}')").collect()
    val got = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    if (got != model.toMap) {
      val diff = (got.keySet ++ model.keySet).count(k => got.get(k) != model.get(k))
      failures += s"lake state: $diff of ${model.size} keys differ from the acknowledged commits"
    }
    Checks(1 + samples.size, failures.toSeq, Json.Arr(samples.toSeq))
  }

  /** Commit counters over the first [[RepeatCommits]] commits, which a
    * given seed makes identical in every run. */
  private def commitStats: (Double, Double, Double) = {
    val first = commitDisk.take(RepeatCommits)
    val logical = first.map(_._3).sum.toDouble
    (first.map(_._1).sum.toDouble, first.map(_._2).sum.toDouble,
      if (logical > 0) first.map(_._2).sum / logical else 0.0)
  }

  def detail(ctx: RunContext, stmts: Seq[Stmt]): Json.Obj = {
    val commits = stmts.filter(s => s.kind == "commit" && s.error.isEmpty).map(_.wallMs)
    val (files, bytes, wa) = commitStats
    val (tail, pct) = Stats.tail(commits)
    val perTemplate = new Json.Obj()
    stmts.filter(s => s.kind == "read" && s.error.isEmpty).groupBy(_.label).toSeq.sortBy(_._1)
      .foreach { case (k, g) => perTemplate.put(k, Stats.median(g.map(_.wallMs))) }
    new Json.Obj().put("template_median_ms", perTemplate).put("commits", commits.size)
      .put("commit_p50_ms", Stats.median(commits))
      .put("commit_tail_ms", tail).put("commit_tail_percentile", pct)
      .put("write_amplification", wa)
      .put("commit_files_written", files).put("commit_bytes_written", bytes)
      .put("repeat_commits", math.min(RepeatCommits, commitDisk.size))
  }

  def perLayer(ctx: RunContext, stmts: Seq[Stmt], layers: Layers): Json.Obj = {
    val reads = stmts.filter(s => s.kind == "read" && s.error.isEmpty)
    val commits = stmts.filter(s => s.kind == "commit" && s.error.isEmpty)
    val wallS = (stmts.map(_.end).max - stmts.map(_.start).min) / 1000.0
    val o = layers.engineMetrics(stmts, wallS, 4)
    val hits = planCache1._2 - planCache0._2
    val lookups = hits + planCache1._3 - planCache0._3
    val hot = reads.filter(_.hot)
    val eligible = reads.filter(_.label == ReflectionTemplate)
    val planning = (s: Stmt) => Seq("analysis", "optimization", "planning").map(layers.phaseMs(s, _)).sum
    val live = liveFiles(ctx)
    val (files, bytes, wa) = commitStats
    o.put("server.self_ms_p50", Stats.median(reads.map(layers.selfTimes(_).getOrElse("server", 0.0))))
      .put("server.response_bytes_p50", Stats.median(reads.map(_.responseBytes.toDouble)))
      .put("sqlext.parse_ms_p50", Stats.median(reads.map(_.parseMs)))
      .put("accel.plan_cache_lookups", lookups.toDouble)
      .put("accel.plan_cache_hit_ratio", if (lookups > 0) hits.toDouble / lookups else 0.0)
      .put("accel.hot_set_hit_ratio", if (hot.nonEmpty) math.min(1.0, hits.toDouble / hot.size) else 0.0)
      .put("accel.hit_planning_ms_p50", Stats.median(hot.map(planning)))
      .put("accel.reflection_hit_ratio", if (eligible.isEmpty) 0.0 else
        eligible.count(s => layers.qesOf.getOrElse(s.id, Nil).exists(_.readsReflection)).toDouble / eligible.size)
      .put("engine.codegen_compiles", codegen.compiles.toDouble)
      .put("engine.codegen_compile_ms", codegen.compileMs)
      .put("sources.commit_jobs", commits.map(s => layers.jobsOf.getOrElse(s.id, Nil).size).sum.toDouble /
        math.max(commits.size, 1))
      .put("sources.commit_files_written", files)
      .put("sources.commit_bytes_written", bytes)
      .put("sources.write_amplification", wa)
      .put("sources.live_files", live.toDouble)
      .put("sources.live_files_slope", if (commits.isEmpty) 0.0 else (live - liveFiles0).toDouble / commits.size)
      .put("sources.commit_p50_ms", Stats.median(commits.map(_.wallMs)))
      .put("sources.commit_tail_ms", Stats.tail(commits.map(_.wallMs))._1)
  }

  override def close(ctx: RunContext): Unit = graft.server.GraftRestServer.stop()
}

object InteractiveWorkload {
  val Readers = 3
  val KeySpace = 2000
  val BatchRows = 50
  val HotRanks = 5
  val RepeatCommits = 6
  val DataToken = "${data}"
  val LakeToken = "${lake}"
  val ReflectionTemplate = "orders_by_status"

  private def table(name: String) = s"parquet.`$DataToken/$name.parquet`"

  val ReflectionSql: String =
    "SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
      s"sum(CAST(o_totalprice AS DECIMAL(12,2))) AS total FROM ${table("orders")} " +
      "GROUP BY o_orderstatus, o_orderpriority"

  /** A reader template: `hot(i)` is the i-th of its discrete variants,
    * `fresh(client, k)` a literal no other statement uses. `static`
    * templates read only the read-only fixtures, so DuckDB can check them. */
  final case class Template(name: String, variants: Int, static: Boolean,
                            hot: Int => String, fresh: (Int, Int) => String)

  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private def unique(client: Int, k: Int): Int = (client + 1) * 100000 + k

  val Templates: Seq[Template] = Seq(
    Template(ReflectionTemplate, 5, static = true,
      i => s"SELECT o_orderstatus, count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS total " +
        s"FROM ${table("orders")} WHERE o_orderpriority = '${Priorities(i)}' GROUP BY o_orderstatus",
      (c, k) => s"SELECT o_orderstatus, count(*) AS n FROM ${table("orders")} " +
        s"WHERE o_totalprice > ${unique(c, k) / 100.0} GROUP BY o_orderstatus"),
    Template("segment_by_nation", 25, static = true,
      i => s"SELECT c_mktsegment, count(*) AS n FROM ${table("customer")} " +
        s"WHERE c_nationkey = $i GROUP BY c_mktsegment",
      (c, k) => s"SELECT c_mktsegment, count(*) AS n FROM ${table("customer")} " +
        s"WHERE c_acctbal > ${unique(c, k) / 1000.0} GROUP BY c_mktsegment"),
    Template("shipped_by_flag", 84, static = true,
      i => s"SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        s"sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty FROM ${table("lineitem")} " +
        f"WHERE l_shipdate < TIMESTAMP '${1995 + i / 12}%04d-${1 + i % 12}%02d-01 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus",
      (c, k) => s"SELECT l_returnflag, l_linestatus, count(*) AS n FROM ${table("lineitem")} " +
        s"WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00' + INTERVAL '${unique(c, k)}' SECOND " +
        "GROUP BY l_returnflag, l_linestatus"),
    Template("brands_by_size", 50, static = true,
      i => s"SELECT p_brand, count(*) AS n, min(p_retailprice) AS lo FROM ${table("part")} " +
        s"WHERE p_size = ${i + 1} GROUP BY p_brand",
      (c, k) => s"SELECT p_brand, count(*) AS n FROM ${table("part")} " +
        s"WHERE p_retailprice > ${900 + unique(c, k) % 100000 / 1000.0} GROUP BY p_brand"),
    Template("nation_balance", 10, static = true,
      i => s"SELECT n_name, count(*) AS n FROM ${table("customer")} JOIN ${table("nation")} " +
        s"ON c_nationkey = n_nationkey WHERE c_acctbal > ${i * 1000} GROUP BY n_name",
      (c, k) => s"SELECT n_name, count(*) AS n FROM ${table("customer")} JOIN ${table("nation")} " +
        s"ON c_nationkey = n_nationkey WHERE c_acctbal > ${unique(c, k) / 100.0 - 1000} GROUP BY n_name"),
    Template("user_events", 200, static = true,
      i => s"SELECT event_type, count(*) AS n, sum(CAST(value AS DECIMAL(12,2))) AS total " +
        s"FROM ${table("events")} WHERE user_id = ${i * 7} GROUP BY event_type",
      (c, k) => s"SELECT event_type, count(*) AS n FROM ${table("events")} " +
        s"WHERE value > ${unique(c, k) / 1000.0 - 100} GROUP BY event_type"),
    Template("lake_range", 20, static = false,
      i => s"SELECT count(*) AS n, sum(v) AS sv FROM lake_scan('$LakeToken') WHERE k < ${(i + 1) * 100}",
      (c, k) => s"SELECT count(*) AS n, sum(v) AS sv FROM lake_scan('$LakeToken') " +
        s"WHERE k < ${unique(c, k) % 2000 + 0.5}"))

  final case class Read(template: String, sql: String, hot: Boolean, static: Boolean)
  final case class Write(sql: String, rows: Seq[(Long, Long, String)]) {
    def logicalBytes: Long = rows.map(r => 16L + r._3.length).sum
  }

  /** The hot set: [[HotRanks]] seeded variants of every template, so
    * 35 distinct statements. */
  def hotSet(seed: Long): IndexedSeq[IndexedSeq[Read]] = {
    val rng = new scala.util.Random(seed)
    Templates.map { t =>
      rng.shuffle((0 until t.variants).toIndexedSeq).take(HotRanks)
        .map(v => Read(t.name, t.hot(v), hot = true, t.static))
    }.toIndexedSeq
  }

  /** A reader's statements. The templates come in a fixed cycle (offset by
    * client), so every run sends the same template mix. Every fourth
    * statement carries a fresh literal no other statement uses; the others
    * are hot-set members of that template, rank r sent with probability
    * ~ 1/(r+1), drawn through a golden-ratio sequence with a seeded
    * offset so that even a short run follows the distribution. */
  def readerScript(seed: Long, client: Int): Iterator[Read] = {
    val hot = hotSet(seed)
    val w = (0 until HotRanks).map(r => 1.0 / (r + 1))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val offset = new scala.util.Random(seed * 31 + client).nextDouble()
    val phi = (math.sqrt(5) - 1) / 2
    Iterator.from(0).map { k =>
      val t = (k + 2 * client) % Templates.size
      if (k % 4 == 3) {
        Read(Templates(t).name, Templates(t).fresh(client, k), hot = false, Templates(t).static)
      } else {
        val u = (offset + k * phi) % 1.0
        hot(t)(math.min(cdf.indexWhere(_ >= u), HotRanks - 1))
      }
    }
  }

  def writerScript(seed: Long): Iterator[Write] = {
    val rng = new scala.util.Random(seed * 31 + 977)
    Iterator.continually {
      val keys = rng.shuffle((0L until KeySpace).toVector).take(BatchRows).sorted
      val rows = keys.map(k => (k, rng.nextInt(1000000).toLong, rng.alphanumeric.take(12).mkString))
      val values = rows.map { case (k, v, n) => s"($k, $v, '$n')" }.mkString(", ")
      Write(s"MERGE INTO LAKE '$LakeToken' KEY k USING SELECT CAST(k AS BIGINT) AS k, " +
        s"CAST(v AS BIGINT) AS v, note FROM VALUES $values AS t(k, v, note)", rows)
    }
  }
}

object DuckDb {
  private val Parquet = "parquet\\.`([^`]*/([a-z]+)\\.parquet)`".r
  /** The same statement in DuckDB's dialect (path-qualified parquet reads,
    * aliased by table name). */
  def translate(sql: String): String = Parquet.replaceAllIn(sql, m =>
    java.util.regex.Matcher.quoteReplacement(s"read_parquet('${m.group(1)}') AS ${m.group(2)}"))
}

object Disk {
  /** Every regular file under `dir` with its size. */
  def listing(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
}

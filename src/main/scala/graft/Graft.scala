package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.engine.{GraftSession, Tables}

/** User-facing facade — the switch-over surface for a reference user
  * (SURVEY §3 entry points): build a session, attach a data directory as a
  * catalog, run SQL (incl. graft's reflection/pipe DDL) or the DataFrame
  * modules directly.
  *
  * {{{
  * val spark = Graft.session()
  * Graft.attach(spark, "/data/warehouse")                  // tables as views
  * Graft.sql(spark, "SELECT ... FROM lineitem ...")        // ANSI SQL
  * Graft.sql(spark, "CREATE REFLECTION r USING PATH '/mv/r' AS SELECT ...")
  * graft.llm.Dedup.minhashLsh(spark.table("documents"))    // pipeline ops
  * }}}
  */
object Graft {

  /** A fully-configured local session (UTC, AQE, bloom joins, CBO, graft
    * parser + optimizer extensions, function registry). */
  def session(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    GraftSession.local(cores)

  /** Attach a directory of parquet tables as the session's namespace
    * (reference: source registration in the namespace catalog) and expose
    * the introspection views. */
  def attach(spark: SparkSession, dir: String): Tables = {
    val t = Tables.ensure(spark, dir)
    graft.catalog.InfoSchema.register(spark)
    t
  }

  /** SQL entry point (reference UserRPCServer → Foreman path ≈ spark.sql).
    *
    * When the session conf `spark.graft.queue` names a defined WLM queue,
    * every statement routes through its admission control automatically —
    * the reference passes ALL queries through the resource scheduler, not
    * only opt-in ones. The slot belongs to the statement's entry in the
    * running-statement ledger (engine.RunningQueries) and is released when
    * the entry retires: DDL/DML commands at once (they executed inside
    * admission), a lazy SELECT on its first completed action, so the
    * expensive execution — not just planning — is throttled. The same
    * ledger is where `CANCEL QUERY` and REST cancel apply one
    * owner-or-admin rule while auth enforcement is on.
    *
    * With no explicit queue named and `spark.graft.queue.auto=true`, the
    * statement is routed BY ESTIMATED COST the way the reference's basic
    * resource allocator picks SMALL vs LARGE
    * (`services/resourcescheduler/.../BasicResourceAllocator.java:143-157`:
    * `cost > exec.queue.threshold → LARGE`): the planned input size of the
    * optimized-but-unexecuted plan is compared against
    * `spark.graft.queue.threshold` (bytes) and the statement admits into
    * the queue named by `spark.graft.queue.small` / `.large`. Reflection
    * maintenance statements route to `spark.graft.queue.reflection` when
    * that queue exists (the reference's ReflectionRoutingManager sends
    * refresh jobs to their own queues). A routed-to queue that is not
    * defined leaves the statement unmanaged — the reference with queueing
    * disabled — while an EXPLICIT `spark.graft.queue` naming a missing
    * queue still fails loudly. */
  def sql(spark: SparkSession, query: String): DataFrame =
    managed(spark, query)(graft.accel.PlanCache.sql(spark, query))

  /** Positional-parameter statement entry: `args` bind the statement's
    * `?` markers in order (Spark's parameterized-SQL contract — each
    * value folds in as a Literal at analysis). The Flight SQL
    * parameter-binding path (`acceptPutPreparedStatementQuery`) lands
    * here. Same WLM routing and job tracking as [[sql]]; never probes
    * the plan cache — each binding folds different literals, so a cached
    * plan would freeze the first execution's values.
    *
    * Statements in the graft extension grammar (lake DML, reflections,
    * pipes — parsed by graft's own grammar, so Spark's analyzer-side
    * binding never sees their markers) bind by SQL-literal TEXT
    * substitution instead: values render as quoted/escaped literals,
    * marker scanning skips literals, identifier quoting and comments, and
    * arity mismatches refuse loudly — the same contract either way. */
  def sql(spark: SparkSession, query: String, args: Array[Any]): DataFrame =
    // Dialect note: a marker in a graft statement can only sit inside a
    // Spark-parsed sub-query tail (the grammar's own quoted captures
    // REQUIRE quoted literals, so a template with a bare `?` there never
    // parses into the grammar in the first place) — which is why the
    // Spark-dialect escaping is the correct rendering; bindGraft guards
    // the residual corruption case.
    if (isGraftGrammar(spark, query)) bindGraft(spark, query, args)
    else managed(spark, query)(spark.sql(query, args))

  /** The graft-grammar binding step shared by the single and batch
    * entries: substitute, then REFUSE unless the bound text still parses
    * into the extension grammar (a rendered literal that broke out of it
    * would reach a verbatim-capturing arm or a different parser). */
  private def bindGraft(spark: SparkSession, query: String,
                        args: Array[Any]): DataFrame = {
    val bound = substitutePositional(query, args)
    require(isGraftGrammar(spark, bound),
      "bound parameter corrupted a graft-extension statement: the " +
        "substituted text no longer parses into the extension grammar; " +
        "inline the literal in the statement text instead")
    sql(spark, bound)
  }

  /** Batch form of the positional entry (ADBC `executemany`): the grammar
    * detection — a full parse — runs ONCE for the whole binding set, not
    * once per bound row; each row still executes as its own managed
    * statement (ledger + WLM) with the same post-substitution grammar
    * guard as the single entry. */
  def sqlBatch(spark: SparkSession, query: String, rows: Seq[Array[Any]]): Unit = {
    val graft = isGraftGrammar(spark, query)
    rows.foreach { row =>
      if (graft) bindGraft(spark, query, row)
      else managed(spark, query)(spark.sql(query, row))
      ()
    }
  }

  /** Does the statement parse into the graft extension grammar (whose
    * commands Spark's analyzer-side parameter binding never sees)? A
    * bare `` TABLE parquet.`<path>` `` parses to the file metadata cache's
    * marker, which is Spark SQL. */
  private def isGraftGrammar(spark: SparkSession, query: String): Boolean = {
    import scala.util.control.NonFatal
    try spark.sessionState.sqlParser.parsePlan(query) match {
      case _: graft.sources.FileMetadata.PathTable => false
      case p => p.getClass.getName.startsWith("graft.")
    } catch { case NonFatal(_) => false }
  }

  /** `?` markers outside literals, quoted identifiers and comments
    * replaced by rendered SQL literals. The markers are the extension
    * grammar's own tokens ([[graft.sqlext.SqlTokens]]), which honor
    * backslash escapes inside string literals (Spark's default literal
    * dialect): `'it\'s ?'` holds no marker.
    *
    * Escape-dialect note: this path only runs for statements the GRAFT
    * grammar parses, and there a marker can only sit inside a SQL
    * sub-query tail (`INSERT INTO LAKE ... SELECT ?`,
    * `CREATE REFLECTION ... AS <query>`) — the grammar's own literal
    * positions (`'path'`) require a quoted string, so a template with a
    * bare `?` there never parses into the grammar in the first place.
    * The tail is re-parsed by SPARK, so Spark-dialect escaping (`\\`,
    * `''`) is the correct rendering for every reachable marker; the
    * caller additionally re-checks that the bound statement still parses
    * into the grammar, closing the corruption path structurally. */
  private def substitutePositional(query: String, args: Array[Any]): String = {
    val markers = graft.sqlext.SqlTokens.tokenize(query).filter(_.kind == '?')
    require(markers.length <= args.length,
      s"statement has more `?` markers than the ${args.length} bound values")
    require(markers.length == args.length,
      s"${args.length} values bound but the statement has ${markers.length} `?` markers")
    val sb = new StringBuilder(query.length + 32)
    var from = 0
    markers.zip(args).foreach { case (m, v) =>
      sb.append(query.substring(from, m.start)).append(sqlLiteral(v))
      from = m.end
    }
    sb.append(query.substring(from)).toString
  }

  private def sqlLiteral(v: Any): String = v match {
    case null => "NULL"
    // Spark's default literal dialect treats backslash as an escape:
    // double it FIRST, then double quotes — else a value ending in '\'
    // escapes its own closing quote (injection surface) and 'C:\tmp'
    // silently stores a TAB
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    case b: Array[Byte] => "X'" + b.map("%02X".format(_)).mkString + "'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case d: java.sql.Date => s"DATE '$d'"
    case d: java.math.BigDecimal => d.toPlainString
    case n: java.lang.Number => n.toString
    case b: java.lang.Boolean => b.toString
    case other => throw new IllegalArgumentException(
      s"cannot render a SQL literal for parameter type ${other.getClass.getName}")
  }

  /** The statement wrapper both entries share: WLM queue routing
    * (explicit conf, then rules, then cost), then admission and tracking
    * in the running-statement ledger. */
  private def managed(spark: SparkSession, query: String)
                     (body: => DataFrame): DataFrame = {
    // parsed at most once, and only when a routing step reads the plan; a
    // parse error surfaces from the statement itself, unqueued
    lazy val parsed = try Some(spark.sessionState.sqlParser.parsePlan(query))
      catch { case scala.util.control.NonFatal(_) => None }
    val queue = spark.conf.getOption(QueueConf).filter(_.nonEmpty)
      .orElse(routeByRule(spark, query, parsed)).orElse(autoQueue(spark, parsed))
    graft.engine.RunningQueries.tracked(spark, query, queue)(body)
  }

  /** Rule-based queue choice (reference `RuleBasedEngineSelector.java:22`
    * — evaluated before the cost fallback, the way the reference consults
    * the rule engine before basic allocation; an explicit
    * `spark.graft.queue` still wins). The context a rule sees:
    * `user_name` (authenticated principal or ''), `roles`, `query_type`
    * ('command' for statement-shaped plans, 'query' otherwise),
    * `statement` (the raw SQL — LIKE-able), `est_cost` (planned input
    * bytes, computed only when some rule reads it). */
  private def routeByRule(spark: SparkSession, query: String,
                          parsedOnce: => Option[LogicalPlan]): Option[String] = {
    val queues = graft.engine.Queues
    if (!queues.hasRules) return None
    val parsed = parsedOnce.getOrElse(return None)
    val qt =
      if (parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command])
        "command" else "query"
    val u = graft.auth.Privileges.principalOf(spark)
    val cost =
      if (queues.anyRuleNeedsCost)
        estimateCost(spark, parsed).min(BigInt(Long.MaxValue)).toLong
      else 0L
    queues.route(spark, queues.RouteCtx(
      u.map(_.name).getOrElse(""), u.map(_.roles.toSeq.sorted).getOrElse(Nil),
      qt, query, cost))
  }

  /** Cost-based queue choice for [[sql]], or None for unmanaged. */
  private def autoQueue(spark: SparkSession,
                        parsedOnce: => Option[LogicalPlan]): Option[String] = {
    if (!spark.conf.getOption(QueueAutoConf).exists(_.equalsIgnoreCase("true"))) return None
    val parsed = parsedOnce.getOrElse(return None)
    val reflectionQueue =
      if (parsed.getClass.getSimpleName.contains("Reflection")) {
        // per-dataset routing first (reference ReflectionRoutingManager:
        // ALTER ... ROUTE ALL REFLECTIONS TO QUEUE q binds ONE dataset's
        // refresh statements), then the global reflection queue
        val perDataset = parsed match {
          case r: graft.sqlext.GraftSqlParser.RefreshReflectionCommand =>
            // the route is declared on the SOURCE dataset (the reference
            // routes by the reflection's anchor table) — the defining
            // plan's scanned lake dirs are exactly baseVersions' keys
            graft.accel.Reflections.list.find(_.name == r.name)
              .flatMap(_.baseVersions.keys.toSeq.sorted
                .flatMap(graft.accel.Reflections.routingFor).headOption)
              .filter(graft.engine.Queues.defined)
          case r: graft.sqlext.GraftSqlParser.RefreshReflectionsForDatasetCommand =>
            // the bulk per-dataset refresh names its anchor directly
            graft.accel.Reflections.routingFor(r.dir)
              .filter(graft.engine.Queues.defined)
          case _ => None
        }
        perDataset.orElse(
          spark.conf.getOption(QueueReflectionConf).filter(_.nonEmpty)
            .filter(graft.engine.Queues.defined))
      } else None
    reflectionQueue.orElse {
      // a malformed threshold degrades to the default rather than failing
      // every statement while auto-routing is on (ADVICE r7)
      val threshold = BigInt(spark.conf.getOption(QueueThresholdConf)
        .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(DefaultQueueThreshold))
      val name =
        if (estimateCost(spark, parsed) > threshold) spark.conf.get(QueueLargeConf, "large")
        else spark.conf.get(QueueSmallConf, "small")
      Some(name).filter(graft.engine.Queues.defined)
    }
  }

  /** Planned input bytes of a statement WITHOUT executing it: the plan is
    * analyzed + optimized under CommandExecutionMode.SKIP (eager commands
    * stay unexecuted — routing must precede admission), then sized via
    * Catalyst statistics. Commands themselves are leaves with no
    * meaningful size; their cost is the largest embedded query subtree
    * (CTAS routes by its SELECT). Unknown cost estimates route LARGE —
    * over-admitting an expensive query never starves the interactive
    * queue, the reverse does. */
  private def estimateCost(spark: SparkSession,
                           parsed: LogicalPlan): BigInt = {
    import org.apache.spark.sql.catalyst.plans.logical.Command
    import org.apache.spark.sql.execution.CommandExecutionMode
    import scala.util.control.NonFatal
    def sizeOf(p: LogicalPlan): BigInt =
      try p.stats.sizeInBytes catch { case NonFatal(_) => BigInt(0) }
    try {
      val qe = spark.sessionState.executePlan(parsed, CommandExecutionMode.SKIP)
      qe.optimizedPlan match {
        case c: Command =>
          (c.children ++ c.innerChildren.collect { case p: LogicalPlan => p })
            .map(sizeOf).foldLeft(BigInt(0))(_ max _)
        case p => sizeOf(p)
      }
    } catch { case NonFatal(_) => BigInt(Long.MaxValue) }
  }

  /** Session conf: route every [[sql]] statement through this WLM queue. */
  val QueueConf = "spark.graft.queue"
  /** Session conf: `true` enables cost-based small/large routing. */
  val QueueAutoConf = "spark.graft.queue.auto"
  /** Session conf: planned-bytes boundary between small and large
    * (reference `exec.queue.threshold`, `BasicResourceConstants.java:51`). */
  val QueueThresholdConf = "spark.graft.queue.threshold"
  /** Session confs: queue names the router targets. */
  val QueueSmallConf = "spark.graft.queue.small"
  val QueueLargeConf = "spark.graft.queue.large"
  val QueueReflectionConf = "spark.graft.queue.reflection"
  val DefaultQueueThreshold: Long = 30000000L

  /** A graft-lake snapshot table (atomic commits, time travel, DML,
    * manifest-pruned scans — see sources.SnapshotTable). */
  def lake(spark: SparkSession, dir: String): graft.sources.SnapshotTable =
    graft.sources.SnapshotTable.forPath(spark, dir)

  /** The copy_errors history for a COPY INTO target. */
  def copyErrors(spark: SparkSession, targetDir: String): DataFrame =
    graft.sources.CopyInto.copyErrors(spark, targetDir)

  /** Run a query action under a WLM admission queue (define queues via
    * `CREATE QUEUE name SLOTS n` or engine.Queues.define). */
  def queued[T](spark: SparkSession, queue: String)(body: => T): T =
    graft.engine.Queues.run(spark, queue)(body)

  /** Serve `df` through the version-gated result cache (repeat queries
    * return the persisted result until a base lake table advances). */
  def cached(df: DataFrame): DataFrame = graft.accel.ResultCache.cached(df)
}

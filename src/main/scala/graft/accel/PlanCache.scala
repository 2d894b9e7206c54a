package graft.accel

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTimestampLike, LocalTimestamp}
import org.apache.spark.sql.catalyst.plans.logical.{Command, CommandResult, LogicalPlan}

/** Statement plan cache: a repeated SQL text on the same session skips
  * parse + analysis + optimization + physical planning by reusing the
  * previously built QueryExecution (which memoizes each phase) wrapped in
  * a fresh caller-owned Dataset. Execution still happens per action —
  * this caches the PLAN, the result cache (`cached('...')` /
  * [[ResultCache]]) caches RESULTS. Statements sharing a cached plan stay
  * separate statements: the running-statement ledger
  * ([[graft.engine.RunningQueries]]) gives an execution to a statement
  * only when it runs in the statement's own session and started after the
  * statement was ledgered, so one statement's action never retires an
  * identical statement or frees its WLM slot.
  *
  * Reference: the coordinator plan cache keyed on a statement hash with
  * dataset-level invalidation (`exec/planner/plancache/PlanCache.java`,
  * `CachedPlan.java` pins the physical Prel + use count,
  * `PlanCacheKey.java`; probed in
  * `exec/planner/sql/handlers/query/NormalHandler.java:102`; invalidated
  * on dataset change by
  * `services/accelerator/.../plancache/PlanCacheInvalidationHelper.java`;
  * cleared by `exec/planner/sql/parser/SqlAlterClearPlanCache.java`).
  *
  * Spark-first re-expression: the reusable artifact is the DataFrame —
  * its QueryExecution lazily computes and then memoizes analyzed /
  * optimized / executedPlan, so handing the same DataFrame back IS
  * handing back the cached physical plan. What the key and freshness
  * rules must carry is everything Spark folds into a plan at analysis
  * time:
  *
  *  - '''principal + planning environment''': policy/masking rules fold
  *    PER-PRINCIPAL plans (a hit must never serve one principal
  *    another's folded plan), and session-scoped state that reaches the
  *    plan — lake ref pins, current catalog/database, timezone/ANSI/case
  *    confs — are key terms (see [[envKey]]). The key is deliberately NOT
  *    session-scoped: wire front ends clone a fresh session per
  *    statement, and repeated dashboard statements over the wire are the
  *    cache's primary win;
  *  - '''lake snapshot pins''': a lake scan pins its snapshot's file list
  *    at analysis; entries record every pinned `(table, version)` and a
  *    hit requires all pins to still be the table's latest (same
  *    `Reflections.versionsCurrent` rule as reflections/result cache) —
  *    this is the reference's per-dataset invalidation;
  *  - '''file listing pins''': a path-qualified file table
  *    (`` parquet.`/dir` ``) freezes its file listing into the plan, so
  *    entries record the listing digest of every relation the file
  *    metadata cache resolved ([[graft.sources.FileMetadata.pins]]) and a
  *    hit re-lists those paths: an added, deleted or rewritten file (or a
  *    session whose `spark.sql.*` confs would resolve the path
  *    differently) is a miss;
  *  - '''temp-view identity''': `createOrReplaceTempView` through the
  *    DataFrame API never passes through this choke point, so entries
  *    record the raw temp-view object identity for every relation name
  *    the statement references and a hit revalidates them (a replaced or
  *    dropped view is a miss, not a stale serve);
  *  - '''global epoch''': any statement-surface DDL (views, reflections,
  *    policies, grants, auth toggles — everything except the
  *    pin-governed lake DML family) bumps a global epoch that retires
  *    every entry, the coarse backstop for catalog changes the pins
  *    can't see. Grant/revoke flows bump it too, so a plan that passed
  *    the analysis-time authorization check is never served after a
  *    REVOKE.
  *
  * Never cached: command statements (they execute, not plan),
  * non-deterministic or wall-clock-dependent queries (`rand()`,
  * `current_timestamp` — their optimized plan freezes a per-execution
  * value), streaming plans, and plans already pinned to a superseded
  * snapshot (time travel — they could never pass a freshness check).
  *
  * Scale note: entries hold logical/physical plan trees (KBs) — not data;
  * the LRU cap bounds driver memory and eviction is O(n) over ≤ cap
  * entries. Disabled per session via `spark.graft.plan.cache=false`.
  */
object PlanCache {

  // The entry holds the QueryExecution + encoder, NOT a Dataset: each hit
  // wraps them in a fresh caller-owned Dataset (Bridge.datasetOf), so the
  // ledger's reaper for abandoned statements — which weak-references the
  // caller's Dataset — keeps working while the plan stays cached.
  private final case class Entry(
      key: String, statement: String,
      qe: org.apache.spark.sql.execution.QueryExecution, enc: AnyRef,
      pins: Map[String, Long], listings: Seq[graft.sources.FileMetadata.Pin],
      tempViews: Seq[(Seq[String], Option[Int])], epochAt: Long,
      hits: AtomicLong, insertedAt: Long, lastUsed: AtomicLong)

  private val cache = TrieMap.empty[String, Entry]
  private val epoch = new AtomicLong()
  private val hitCount = new AtomicLong()
  private val missCount = new AtomicLong()
  private val tick = new AtomicLong() // monotonic LRU clock (no wall time)

  /** Max cached plans before LRU eviction (per JVM). */
  @volatile var maxEntries: Int = 256

  /** Retire every entry (catalog-shape change the pins can't express). */
  def bump(): Unit = epoch.incrementAndGet()

  /** Current DDL epoch — a freshness token other metadata caches (e.g.
    * the Flight GetTables schema cache) key on: any plan-retiring DDL
    * invalidates them for free. */
  def currentEpoch: Long = epoch.get

  /** Lake DML / maintenance commands whose only planning-visible effect
    * is advancing a snapshot version — the per-entry pins already govern
    * those, so they must NOT retire unrelated entries (the reference
    * invalidates per-dataset, not globally, on dataset update). */
  private val pinGoverned: Set[String] = Set(
    "InsertLakeCommand", "DeleteLakeCommand", "UpdateLakeCommand",
    "MergeLakeCommand", "MergeLakeClausesCommand", "TruncateLakeCommand",
    "OptimizeLakeCommand", "VacuumLakeCommand", "RollbackLakeCommand",
    "InsertLakeAtBranchCommand", "CopyIntoCommand", "TriggerPipeCommand")

  /** Should this executed command retire every cached plan? Inverted to a
    * READ-ONLY allowlist — missing a read-only name only costs hits,
    * while missing a mutating name would serve a stale plan. SHOW /
    * DESCRIBE / EXPLAIN / AUTHENTICATE / CANCEL never change what a
    * statement plans to (the principal an AUTHENTICATE binds is a key
    * term already); the pin-governed lake DML family invalidates through
    * per-entry snapshot pins instead (per-dataset, like the reference's
    * PlanCacheInvalidationHelper). Everything else — DDL, grants, SET,
    * reflections, policies, branch/ref switches — bumps. */
  private def retiresPlans(commandClass: String): Boolean =
    !pinGoverned(commandClass) &&
      !commandClass.startsWith("Show") && !commandClass.startsWith("Describe") &&
      !commandClass.startsWith("Explain") &&
      commandClass != "AuthenticateCommand" && commandClass != "CancelQueryCommand"

  private def enabledFor(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.plan.cache", "true").equalsIgnoreCase("true")

  /** The session-scoped state a plan folds in at analysis/planning time,
    * rendered into the key. NOT the session identity: the wire front ends
    * run every statement on a fresh `newSession()` clone, so a
    * session-keyed cache would never hit on the wire (exactly where the
    * reference's coordinator cache earns its keep). What actually varies
    * between sessions and reaches the plan:
    *  - the principal (policy/masking folding + the analysis-time
    *    authorization check are per-principal);
    *  - USE BRANCH|TAG|VERSION lake ref pins (session confs — they pick
    *    the snapshot a path resolves to);
    *  - current catalog/database (name resolution);
    *  - the planning-relevant SQL confs (timezone folds into casts at
    *    analysis, ANSI mode changes expression semantics, case
    *    sensitivity changes resolution, shuffle partitions shape the
    *    physical plan).
    * Temp views need no key term: every entry revalidates the raw
    * temp-view object identity for each referenced name at hit time, so a
    * session where the name resolves differently can never be served the
    * entry. Conf deltas outside this list (e.g. broadcast thresholds)
    * would change plan CHOICE, not correctness; sessions tuning those
    * should set `spark.graft.plan.cache=false`. */
  private def envKey(spark: SparkSession): String = {
    val c = spark.conf
    val refPins = c.getAll.view
      .filter(_._1.startsWith("spark.graft.lake.sessionref."))
      .toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
    Seq(
      graft.auth.Privileges.principalOf(spark).map(_.name).getOrElse(""),
      spark.catalog.currentCatalog(), spark.catalog.currentDatabase,
      c.getOption("spark.sql.session.timeZone").getOrElse(""),
      c.getOption("spark.sql.ansi.enabled").getOrElse(""),
      c.getOption("spark.sql.caseSensitive").getOrElse(""),
      c.getOption("spark.sql.shuffle.partitions").getOrElse(""),
      refPins).mkString("|")
  }

  /** The statement entry point: [[graft.Graft.sql]] routes through here.
    *
    * A session with `spark.graft.plan.cache=false` skips the probe and the
    * insert but NOT the command classification below: DDL/GRANT/REVOKE
    * executed from a cache-disabled session must still retire other
    * sessions' cached plans, or an authorization-stale plan (post-REVOKE)
    * would keep being served — the epoch bump is a global freshness
    * protocol, not a per-session optimization. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    val enabled = enabledFor(spark)
    val key = if (enabled) md5(s"${envKey(spark)}|$text") else ""
    if (enabled) cache.get(key) match {
      case Some(e) if fresh(spark, e) =>
        hitCount.incrementAndGet(); e.hits.incrementAndGet()
        e.lastUsed.set(tick.incrementAndGet())
        // rebound to the CALLING session: QueryExecutionListeners (query
        // history) are delivered only for executions owned by the
        // listener's session
        return org.apache.spark.sql.graft.Bridge.datasetOf(spark, e.qe, e.enc)
      case stale =>
        stale.foreach(e => cache.remove(e.key, e))
        missCount.incrementAndGet()
    }
    val df = spark.sql(text)
    val analyzed = df.queryExecution.analyzed
    analyzed match {
      case c: Command =>
        // executed eagerly inside spark.sql — a statement, not a plan
        // (the analyzed plan of an eager command IS the command; the
        // CommandResult wrapper only appears post-execution)
        if (retiresPlans(c.getClass.getSimpleName)) bump()
      case cr: CommandResult =>
        if (retiresPlans(cr.commandLogicalPlan.getClass.getSimpleName)) bump()
      case p if p.exists(_.isInstanceOf[Command]) => bump()
      case p if p.isStreaming || uncacheable(p) => ()
      case p if !enabled => ()
      case p =>
        val pins = Reflections.lakePins(p)
        if (pins.isEmpty || Reflections.versionsCurrent(spark, pins)) {
          val now = tick.incrementAndGet()
          val (qe, enc) = org.apache.spark.sql.graft.Bridge.planArtifact(df)
          cache.putIfAbsent(key, Entry(key,
            text.linesIterator.mkString(" ").take(200), qe, enc, pins,
            graft.sources.FileMetadata.pins(p),
            tempViewIds(spark, df.queryExecution.logical), epoch.get,
            new AtomicLong(0), now, new AtomicLong(now)))
          evictIfOver()
        } // else: pinned to a superseded snapshot (time travel) —
          // it could never pass a future freshness check
    }
    df
  }

  /** Entry still serveable: same catalog epoch, every lake pin still the
    * table's latest, every referenced temp view still the same object,
    * every pinned file listing unchanged. */
  private def fresh(spark: SparkSession, e: Entry): Boolean =
    e.epochAt == epoch.get &&
      Reflections.versionsCurrent(spark, e.pins) &&
      e.tempViews.forall { case (parts, id) => rawViewId(spark, parts) == id } &&
      graft.sources.FileMetadata.current(spark, e.listings)

  /** Marks a Literal whose value was folded from a live filesystem
    * listing at analysis time (MAXDIR/MINDIR family): the plan is
    * deterministic to Catalyst but its folded value goes stale the moment
    * the directory changes, and it carries no lake pin — so it must never
    * be cached. Set by [[graft.functions.DremioSurface]] at
    * function-build time; checked on the ANALYZED tree (before the
    * optimizer can copy the node and drop the tag). */
  val VolatileFoldTag: org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit] =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]("graft.volatileFold")

  /** Wall-clock or non-deterministic expressions anywhere in the plan
    * (incl. subqueries): their optimized form freezes a per-execution
    * value, so the plan must be rebuilt each statement. Ditto literals
    * folded from a filesystem listing ([[VolatileFoldTag]]). */
  private def uncacheable(analyzed: LogicalPlan): Boolean =
    (analyzed +: analyzed.subqueriesAll).exists(p =>
      p.exists(_.expressions.exists(_.exists {
        case _: CurrentTimestampLike | _: CurrentDate | _: LocalTimestamp => true
        case e if e.getTagValue(VolatileFoldTag).isDefined => true
        case e => !e.deterministic
      })))

  /** Raw temp-view object identity for every relation name the statement
    * references — the live check that catches DataFrame-API
    * `createOrReplaceTempView` (which never crosses this choke point).
    * `parsed` is the plan `spark.sql` parsed from the statement text. */
  private def tempViewIds(spark: SparkSession,
                          parsed: LogicalPlan): Seq[(Seq[String], Option[Int])] =
    (parsed +: parsed.subqueriesAll)
      .flatMap(_.collect { case u: UnresolvedRelation => u.multipartIdentifier })
      .distinct
      .filter(_.lengthCompare(2) <= 0)
      .map(parts => parts -> rawViewId(spark, parts))

  private def rawViewId(spark: SparkSession, parts: Seq[String]): Option[Int] = {
    val cat = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
    parts match {
      case Seq(n) => cat.getRawTempView(n).map(System.identityHashCode)
      case Seq(db, n) if db.equalsIgnoreCase(
          spark.conf.get("spark.sql.globalTempDatabase", "global_temp")) =>
        cat.getRawGlobalTempView(n).map(System.identityHashCode)
      case _ => None
    }
  }

  private def evictIfOver(): Unit =
    while (cache.size > maxEntries) {
      val lru = cache.values.toSeq.minBy(_.lastUsed.get)
      cache.remove(lru.key, lru)
    }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** ALTER SESSION CLEAR PLAN CACHE (SqlAlterClearPlanCache.java). */
  def invalidateAll(): Unit = cache.clear()

  def stats: (Int, Long, Long) = (cache.size, hitCount.get, missCount.get)

  /** Live rows for sys_plan_cache (reference CachedPlan's use count). */
  final case class CacheRow(fingerprint: String, statement: String,
                            hits: Long, lakeDeps: Int)
  def listEntries: Seq[CacheRow] = cache.values.toSeq.sortBy(_.insertedAt)
    .map(e => CacheRow(e.key, e.statement, e.hits.get, e.pins.size))

  /** Test/diagnostic hook: reset counters and entries. */
  def clearAll(): Unit = { invalidateAll(); hitCount.set(0); missCount.set(0) }
}

package graft.accel

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSeq, BindReferences, Cast, Expression, ExprId, GenericInternalRow, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Reflections: materialized-view acceleration — the reference's flagship
  * custom planner feature (dremio-oss `exec/planner/acceleration/`:
  * `DremioMaterialization.java`, substitution under
  * `acceleration/substitution/`, plan hashing `PlanHasher.java`; lifecycle in
  * `services/accelerator/ReflectionManager.java`).
  *
  * Spark-native shape: a reflection is a parquet materialization keyed by
  * the canonicalized optimized logical plan of its defining query. A
  * `Rule[LogicalPlan]` appended to `spark.experimental.extraOptimizations`
  * (run after the main optimizer batches) walks each query's plan and
  * replaces any subtree whose canonical fingerprint matches a registered
  * reflection with a scan of the materialization, aliasing the scan's
  * output back to the subtree's attribute ids so the surrounding plan
  * resolves untouched.
  *
  * Matching is exact-plan (the reference additionally normalizes/expands —
  * `acceleration/normalization/`); refresh is full or partition-incremental
  * (reference `IncrementalUpdateUtils.java`).
  */
object Reflections {

  /** `baseVersions`: lake-table version per table dir the defining plan
    * scans, captured at (re)materialization — the staleness anchor
    * (reference: ReflectionManager tracks dataset versions/refresh
    * policies in `services/accelerator`). Non-lake sources record
    * nothing and are assumed fresh (no version authority to consult). */
  final case class Reflection(name: String, fingerprint: String, path: String,
                              baseVersions: Map[String, Long] = Map.empty,
                              // SQL text of the defining query when created
                              // through DDL — lets REFRESH REFLECTION re-run
                              // it without the caller re-supplying the frame
                              definingSql: Option[String] = None,
                              // principal that created the goal: maintenance
                              // re-runs the SQL as SYSTEM, so refresh RE-checks
                              // this principal's grants first — a revoked
                              // SELECT must not keep refreshing through the
                              // SYSTEM identity (definer-rights leak)
                              owner: Option[String] = None)

  private val byFingerprint = TrieMap.empty[String, Reflection]
  private val byName = TrieMap.empty[String, Reflection]
  // Optimized defining plan per reflection — kept for subsumption matching
  // (the reference's `acceleration/substitution/` normalizes plans instead of
  // requiring canonical identity; we match aggregate roll-ups the same way).
  private val planByName = TrieMap.empty[String, LogicalPlan]
  // Analyzed scan plan of each materialization, cached so the substitution
  // rule never does file listing + schema inference inside the optimizer
  // (ADVICE r2: spark.read.parquet per candidate per query). Invalidated on
  // refresh/drop; each use re-instances exprIds so one reflection can serve
  // two subtrees of the same query plan without attribute collisions.
  private val scanByNameCache = TrieMap.empty[String, LogicalPlan]

  private def reflectionScan(spark: SparkSession, r: Reflection): LogicalPlan = {
    // SYSTEM context: the materialization is ENGINE-owned storage — a
    // user whose query substitutes to it holds grants on the BASE tables
    // (already check-ruled on the pre-substitution plan); demanding a
    // grant on the internal mv path would break acceleration for every
    // non-admin (the reference serves materializations under its SYSTEM
    // user the same way).
    val base = scanByNameCache.getOrElseUpdate(r.name,
      graft.auth.Privileges.withSystemContext {
        spark.read.parquet(r.path).queryExecution.analyzed
      })
    base match {
      case m: org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation =>
        m.newInstance().asInstanceOf[LogicalPlan]
      case other => other
    }
  }

  /** Canonical fingerprint of a query's optimized plan (exprIds normalized —
    * the Spark analog of the reference's PlanHasher). */
  def fingerprint(df: DataFrame): String =
    fingerprintPlan(df.queryExecution.optimizedPlan)

  // planning-cost instrumentation: plan-node fingerprints actually computed
  // (ReflectionsSpec pins that the substitution pass fingerprints only
  // shape-eligible nodes, not every subtree of every query)
  private[accel] val fingerprintsComputed = new java.util.concurrent.atomic.AtomicLong()

  private[accel] def fingerprintPlan(plan: LogicalPlan): String = {
    fingerprintsComputed.incrementAndGet()
    val canon = plan.canonicalized
    // Render UNTRUNCATED: plain toString elides expression lists longer
    // than spark.sql.debug.maxToStringFields ("... N more fields"), so two
    // wide plans differing only in an elided expression would share a
    // fingerprint — and the result cache / substitution would serve the
    // wrong result. maxFields = MaxValue keeps every expression in the
    // rendering.
    val sb = new StringBuilder(canon.treeString(
      verbose = true, addSuffix = false, maxFields = Int.MaxValue,
      printOperatorId = false))
    // Two toString blind spots would make DIFFERENT data sources collide
    // (and a query could silently be served from the wrong materialization;
    // the substituted scan would even re-match itself and starve the
    // optimizer's fixed point):
    //  - LocalRelation prints only its schema, not its rows;
    //  - LogicalRelation prints "Relation [cols] parquet" without the PATH.
    // Fold both identities into the digest — for subquery plans too: the
    // rendering prints a subquery's shape but not its relations' paths.
    val plans = canon +: canon.subqueriesAll
    plans.foreach(_.foreach {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        sb.append('#').append(lr.data.hashCode())
      case rel: LogicalRelation =>
        rel.relation match {
          case h: HadoopFsRelation =>
            h.location.rootPaths.map(p => normPath(p.toString)).sorted
              .foreach(sb.append('@').append(_))
          case other => sb.append('@').append(other.toString)
        }
      case _ =>
    })
    // Third blind spot: SQLScalarFunction (a SQL-defined UDF call) renders
    // only `name(inputs)` — its analyzed BODY rides in `child` and never
    // prints. Two plans calling the same UDF whose bodies folded
    // differently (graft_principal() → per-principal literal, policy
    // views) would share a rendering — and the result cache would serve
    // one principal's rows to another. Fold every body into the digest.
    plans.foreach(_.foreach { n =>
      n.expressions.foreach(_.foreach {
        case s: org.apache.spark.sql.catalyst.analysis.SQLScalarFunction =>
          sb.append('$').append(s.child.toString)
        case _ =>
      })
    })
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** CREATE REFLECTION: materialize the query and register it for
    * substitution. The defining plan is fingerprinted with substitution
    * BYPASSED: with another reflection live, `df`'s optimized plan would
    * otherwise already be a scan of that materialization, and this
    * reflection would be registered under the wrong identity (matching
    * other-reflection scans instead of the user's query shape). */
  def create(name: String, df: DataFrame, path: String,
             definingSql: Option[String] = None,
             partitionBy: Seq[String] = Nil): Reflection = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    df.sparkSession.catalog.refreshByPath(path)
    // fresh QueryExecution (the write above may have cached a substituted
    // optimized plan on df's own QueryExecution)
    val defining = org.apache.spark.sql.graft.Bridge.ofRows(
      df.sparkSession, df.queryExecution.logical)
    val plan = withSubstitutionBypassed { defining.queryExecution.optimizedPlan }
    val r = Reflection(name, fingerprintPlan(plan), path,
      lakeBaseVersions(df.sparkSession, plan), definingSql,
      graft.auth.Privileges.principalOf(df.sparkSession).map(_.name))
    byName.put(name, r)
    byFingerprint.put(r.fingerprint, r)
    planByName.put(name, plan)
    scanByNameCache.remove(name) // re-created under the same name → re-read
    // a live re-create supersedes any still-pending stored goal of the
    // same name — otherwise persist() would write BOTH entries and the
    // stale one would win the next restart's last-wins load
    pendingReattach.remove(name)
    noteRefreshed(name, System.currentTimeMillis(), kind = "create")
    persist()
    r
  }

  /** COMPACT MATERIALIZATION (reference `SqlCompactMaterialization` —
    * services/accelerator's compaction of accumulated refresh deltas):
    * rewrite the reflection's parquet materialization into `numFiles`
    * files. The rewrite lands in a sibling temp dir and swaps in with two
    * directory renames; the DISPLACED generation is retained (and only
    * reaped by the NEXT compaction), so a query that already resolved the
    * old file set keeps its files. The swap itself leaves a microsecond
    * window where the path is absent — a concurrent query planning in
    * exactly that window fails resolution and retries cleanly (never a
    * half-written mix, never silently wrong data). Freshness pins and the
    * registered plan are untouched (compaction changes layout, not
    * content). Returns the new file count. */
  def compact(spark: SparkSession, name: String, numFiles: Int = 1): Int = {
    require(numFiles > 0, "COMPACT MATERIALIZATION needs at least one file")
    val r = byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown reflection: $name"))
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tmp = r.path + s".compact-$token"
    withSubstitutionBypassed {
      spark.read.parquet(r.path).repartition(numFiles)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    val p = java.nio.file.Paths.get(r.path)
    val old = java.nio.file.Paths.get(r.path + s".old-$token")
    // reap generations displaced by PREVIOUS compactions — anything still
    // scanning them has long finished; the one displaced NOW is retained
    import scala.jdk.CollectionConverters._
    val parent = p.toAbsolutePath.getParent
    val prevOld = {
      val s0 = java.nio.file.Files.list(parent)
      try s0.iterator.asScala.filter(_.getFileName.toString
        .startsWith(p.getFileName.toString + ".old-")).toVector
      finally s0.close()
    }
    prevOld.foreach { d =>
      java.nio.file.Files.walk(d).iterator.asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    java.nio.file.Files.move(p, old)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), p)
    spark.catalog.refreshByPath(r.path)
    scanByNameCache.remove(name)
    val s = java.nio.file.Files.list(p)
    try s.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  /** Register a USER-MANAGED materialization as a reflection (the
    * reference's external reflections — `SqlAddExternalReflection.java`,
    * `AccelAddExternalReflectionHandler.java`): the data at `path` was
    * produced outside the engine (an upstream job, another system) and is
    * NOT written here; we only validate it carries the defining query's
    * columns and register the plan for substitution. Freshness pins work
    * like any reflection; refresh stays the owner's job. */
  def createExternal(name: String, df: DataFrame, path: String,
                     definingSql: Option[String] = None): Reflection = {
    val spark = df.sparkSession
    val have = spark.read.parquet(path).schema.fieldNames.toSet
    val want = df.schema.fieldNames.toSet
    require(want.subsetOf(have),
      s"external materialization at $path lacks columns of the defining " +
        s"query: ${(want -- have).toSeq.sorted.mkString(", ")}")
    spark.catalog.refreshByPath(path)
    val defining = org.apache.spark.sql.graft.Bridge.ofRows(
      spark, df.queryExecution.logical)
    val plan = withSubstitutionBypassed { defining.queryExecution.optimizedPlan }
    val r = Reflection(name, fingerprintPlan(plan), path,
      lakeBaseVersions(spark, plan), definingSql,
      graft.auth.Privileges.principalOf(spark).map(_.name))
    byName.put(name, r)
    byFingerprint.put(r.fingerprint, r)
    planByName.put(name, plan)
    scanByNameCache.remove(name)
    pendingReattach.remove(name)
    persist()
    r
  }

  /** Lake tables the defining plan scans, with their CURRENT versions. */
  private[accel] def lakeBaseVersions(spark: SparkSession,
                                      plan: LogicalPlan): Map[String, Long] =
    plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.map(p => normPath(p.toString))
        case _ => Nil
      }
    }.flatten.distinct
      .filter(graft.sources.SnapshotTable.isLakeTable)
      .map(d => d -> graft.sources.SnapshotTable.forPath(spark, d).latestVersion)
      .toMap

  /** Is the materialization current against every lake table it reads?
    * One directory listing per lake dir (cheap locally; an object-store
    * deployment would batch this behind the reflection manager the way
    * the reference does). */
  def isFresh(spark: SparkSession, r: Reflection): Boolean =
    versionsCurrent(spark, r.baseVersions)

  /** Re-pin a reflection's base versions after a refresh. */
  private def repin(spark: SparkSession, name: String): Unit =
    byName.get(name).foreach { r =>
      val updated = r.copy(baseVersions = r.baseVersions.map { case (d, _) =>
        d -> graft.sources.SnapshotTable.forPath(spark, d).latestVersion
      })
      byName.put(name, updated)
      byFingerprint.replace(r.fingerprint, r, updated)
      persist()
    }

  // Substitution is disabled on this thread while a defining query is being
  // fingerprinted (see create()).
  private val bypass = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }
  private[accel] def withSubstitutionBypassed[A](body: => A): A = {
    val prev = bypass.get()
    bypass.set(java.lang.Boolean.TRUE)
    try body finally bypass.set(prev)
  }

  /** Full refresh: recompute the materialization (fingerprint unchanged)
    * and re-pin base lake versions, so the reflection serves again after
    * its base tables advanced. */
  def refresh(name: String, df: DataFrame): Unit =
    byName.get(name).foreach { r =>
      df.write.mode(SaveMode.Overwrite).parquet(r.path)
      df.sparkSession.catalog.refreshByPath(r.path)
      scanByNameCache.remove(name)
      noteRefreshed(name, System.currentTimeMillis())
      repin(df.sparkSession, name)
    }

  /** Incremental refresh: dynamic-partition overwrite of only the
    * partitions present in `delta` (reference IncrementalUpdateUtils). */
  def refreshIncremental(name: String, delta: DataFrame, partitionCol: String): Unit =
    byName.get(name).foreach { r =>
      delta.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      delta.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(r.path)
      delta.sparkSession.catalog.refreshByPath(r.path)
      scanByNameCache.remove(name)
      noteRefreshed(name, System.currentTimeMillis(), kind = "incremental")
      repin(delta.sparkSession, name)
    }

  def drop(name: String): Unit = {
    byName.remove(name).foreach { r =>
      // two reflections over the SAME defining plan share a fingerprint:
      // remove the index entry only if it is ours, then re-seat a surviving
      // same-fingerprint reflection (name order, matching subsumed())
      byFingerprint.remove(r.fingerprint, r)
      byName.toSeq.sortBy(_._1).map(_._2).find(_.fingerprint == r.fingerprint)
        .foreach(o => byFingerprint.putIfAbsent(r.fingerprint, o))
    }
    planByName.remove(name)
    scanByNameCache.remove(name)
    pendingReattach.remove(name)
    refreshEvery.remove(name)
    lastRefreshed.remove(name)
    persist()
  }

  def clear(): Unit = {
    byName.clear(); byFingerprint.clear(); planByName.clear()
    scanByNameCache.clear(); routing.clear(); accelOff.clear()
    pendingReattach.clear(); refreshEvery.clear(); lastRefreshed.clear()
    graft.catalog.GraftStore.sessionForPersist
      .foreach(s => graft.catalog.GraftStore.delete(s, "reflections"))
  }

  def list: Seq[Reflection] = byName.values.toSeq.sortBy(_.name)

  /** Every file-source root a plan scans, normalized — the shared walk
    * behind dependency edges and dataset anchors. */
  private[accel] def scannedRoots(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case rel: LogicalRelation => rel.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(p => normPath(p.toString)).toSeq
        case _ => Nil
      }
    }.flatten.distinct.sorted

  /** Dataset anchors of a goal's defining plan — every file-source root it
    * scans that is NOT another reflection's materialization (those are
    * REFLECTION dependencies, reported separately by [[dependencies]]; a
    * superset of `baseVersions`, which records only LAKE tables because
    * only those have a version authority for staleness). */
  def baseDatasetsOf(name: String): Seq[String] = {
    val mats = byName.values.filter(_.name != name).map(r => normPath(r.path)).toSet
    planByName.get(name).toSeq.flatMap(scannedRoots)
      .filterNot(s => mats.exists(p => s == p || s.startsWith(p + "/")))
  }

  // ---- durability (GraftStore section "reflections"; reference persists
  // reflection GOALS in services/accelerator's KV store and re-derives
  // the rest). What persists is the goal: name, materialization path,
  // defining SQL, pinned base versions, plus the routing and
  // acceleration-toggle maps. The optimized defining PLAN is rebuilt by
  // re-analyzing the SQL at load — plans are not serializable state, and
  // re-deriving them also re-fingerprints against the live catalog.
  // API-created reflections with no defining SQL are non-durable by
  // construction (nothing to re-analyze) — the DDL surface always
  // records SQL. A defining query whose referenced temp views are not
  // registered yet stays PENDING and reattaches on the next loadFrom
  // without losing its store entry. ----

  private val pendingReattach =
    TrieMap.empty[String, (String, String, Map[String, Long], Option[String])]

  private def persist(): Unit =
    graft.catalog.GraftStore.sessionForPersist.foreach { spark =>
      val st = graft.catalog.GraftStore
      val root = st.newObject
      val arr = root.putArray("reflections")
      // live registrations WIN over same-named pending goals (a pending
      // entry surviving next to a live one would resurrect stale state on
      // the next last-wins load)
      val live = byName.values.toSeq.collect {
        case r if r.definingSql.isDefined =>
          (r.name, r.path, r.definingSql.get, r.baseVersions, r.owner)
      }
      val liveNames = live.map(_._1).toSet
      val durable = live ++ pendingReattach.toSeq
        .collect { case (n, (p, sql, bv, ow)) if !liveNames(n) => (n, p, sql, bv, ow) }
      durable.sortBy(_._1).foreach { case (name, path, sql, bv, owner) =>
        val o = arr.addObject()
        o.put("name", name); o.put("path", path); o.put("sql", sql)
        owner.foreach(o.put("owner", _))
        refreshEvery.get(name).foreach(m => o.put("refreshEveryMin", m))
        lastRefreshed.get(name).foreach(t => o.put("lastRefreshMs", t))
        val vs = o.putObject("baseVersions")
        bv.toSeq.sortBy(_._1).foreach { case (d, v) => vs.put(d, v) }
      }
      val rt = root.putObject("routing")
      routing.toSeq.sortBy(_._1).foreach { case (p, q) => rt.put(p, q) }
      val at = root.putObject("accelOff")
      accelOff.toSeq.sortBy(_._1).foreach { case (d, ks) =>
        val a = at.putArray(d); ks.toSeq.sorted.foreach(a.add)
      }
      st.saveResync(spark, "reflections", root)(resyncFrom)
    }

  /** Reload reflection goals: re-analyze each stored defining SQL against
    * the live session, restore the STORED base-version pins (staleness
    * must survive a restart — re-pinning to current versions would mark a
    * stale materialization fresh), and keep un-analyzable goals pending
    * rather than dropping them from the store. */
  def loadFrom(spark: SparkSession): Unit =
    graft.catalog.GraftStore.load(spark, "reflections").foreach { root =>
      root.path("routing").fields().forEachRemaining(e =>
        routing.put(e.getKey, e.getValue.asText()))
      root.path("accelOff").fields().forEachRemaining { e =>
        val ks = scala.collection.mutable.Set.empty[String]
        e.getValue.forEach(k => ks.add(k.asText()))
        accelOff.put(e.getKey, ks.toSet)
      }
      root.path("reflections").forEach { o =>
        val name = o.path("name").asText()
        val bv = scala.collection.mutable.Map.empty[String, Long]
        o.path("baseVersions").fields().forEachRemaining(e =>
          bv.put(e.getKey, e.getValue.asLong()))
        if (o.has("refreshEveryMin"))
          refreshEvery.put(name, o.path("refreshEveryMin").asLong())
        if (o.has("lastRefreshMs"))
          lastRefreshed.put(name, o.path("lastRefreshMs").asLong())
        pendingReattach.put(name,
          (o.path("path").asText(), o.path("sql").asText(), bv.toMap,
            if (o.has("owner")) Some(o.path("owner").asText()) else None))
      }
      reattachPending(spark)
    }

  /** Try to re-register every pending goal (called by loadFrom; safe to
    * call again after session views appear). Already-registered names are
    * left alone — a live registration is newer than the stored goal. */
  def reattachPending(spark: SparkSession): Unit =
    pendingReattach.toSeq.sortBy(_._1).foreach { case (name, (path, sql, bv, owner)) =>
      if (byName.contains(name)) pendingReattach.remove(name)
      else try {
        // SYSTEM context: startup has no end-user principal, and the goal's
        // SQL was authorized when the reflection was created (the reference
        // runs reflection maintenance as its SYSTEM user)
        val plan = graft.auth.Privileges.withSystemContext {
          val df = spark.sql(sql)
          val defining = org.apache.spark.sql.graft.Bridge.ofRows(
            spark, df.queryExecution.logical)
          withSubstitutionBypassed { defining.queryExecution.optimizedPlan }
        }
        val r = Reflection(name, fingerprintPlan(plan), path, bv, Some(sql), owner)
        byName.put(name, r)
        byFingerprint.put(r.fingerprint, r)
        planByName.put(name, plan)
        scanByNameCache.remove(name)
        pendingReattach.remove(name)
        ()
      } catch {
        case e: Exception =>
          System.err.println(
            s"[graft-reflections] goal '$name' kept pending (defining SQL " +
              s"not analyzable yet): ${Option(e.getMessage).getOrElse(e).toString.take(160)}")
      }
    }

  /** Restart simulation for specs: in-memory only, store survives. */
  private[graft] def resetMemoryForTest(): Unit = {
    byName.clear(); byFingerprint.clear(); planByName.clear()
    scanByNameCache.clear(); routing.clear(); accelOff.clear()
    pendingReattach.clear(); refreshEvery.clear(); lastRefreshed.clear()
  }

  /** Conflict resync (saveResync's reload): unlike the MERGE-semantics
    * [[loadFrom]] (which must not drop live API-created goals at
    * startup-reattach time), a generation conflict means a FOREIGN
    * coordinator owns the durable world — everything in memory is
    * discarded (a stale goal kept through a merge would be re-committed
    * on the advised retry, silently overwriting the other coordinator's
    * drop/update) and the store's state reloads wholesale. API-created
    * (non-durable) goals are lost with the rest: they were created
    * against the stale world too. */
  private def resyncFrom(spark: SparkSession): Unit = {
    resetMemoryForTest()
    loadFrom(spark)
  }

  // ---- dependency-ordered, schedulable refresh (reference
  // services/accelerator DependencyGraph.java + ReflectionManager.java:
  // the manager refreshes reflections through a dependency graph —
  // a reflection whose defining query READS another reflection's
  // materialization must refresh AFTER it, or it rebuilds from stale
  // upstream data; refresh periods are per-goal metadata). The scheduler
  // SEAM is the explicit MAINTAIN REFLECTIONS statement — an operator
  // cron (or the reference's background manager) calls it; the sandbox
  // needs no daemon thread. ----

  /** Reflection name → names it depends on: its defining plan scans a
    * path at-or-under the other's materialization path. Driver-side over
    * registered plans — O(reflections²) path prefix checks on metadata,
    * nothing touches data. */
  def dependencies(): Map[String, Set[String]] = {
    val mats = byName.values.map(r => r.name -> normPath(r.path)).toMap
    byName.keys.map { n =>
      val scanned = planByName.get(n).map(scannedRoots(_).toSet).getOrElse(Set.empty)
      n -> mats.collect { case (o, p) if o != n &&
        scanned.exists(s => s == p || s.startsWith(p + "/")) => o }.toSet
    }.toMap
  }

  /** Dependency-first order over `names` (edges restricted to the set —
    * an upstream OUTSIDE the refresh set is someone else's schedule). A
    * cycle refuses loudly, naming its members: refreshing a cycle in any
    * order rebuilds someone from stale data. */
  def refreshOrder(names: Seq[String]): Seq[String] = {
    val deps = dependencies()
    val within = names.toSet
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val state = scala.collection.mutable.Map.empty[String, Int] // 0=visiting 1=done
    def visit(n: String, stack: List[String]): Unit = state.get(n) match {
      case Some(1) => ()
      case Some(0) =>
        val cycle = (n :: stack.takeWhile(_ != n)).reverse :+ n
        throw new IllegalStateException(
          s"reflection dependency cycle: ${cycle.mkString(" -> ")} — " +
            "break the cycle (drop or redefine one) before bulk refresh")
      case None =>
        state(n) = 0
        deps.getOrElse(n, Set.empty).toSeq.sorted.filter(within)
          .foreach(visit(_, n :: stack))
        state(n) = 1
        out += n
        ()
    }
    names.sorted.foreach(visit(_, Nil))
    out.toSeq
  }

  /** Refresh the named SQL-defined reflections in dependency order;
    * returns (name, status) per goal in the order used. Substitution is
    * BYPASSED while the defining queries re-run: a due-but-still-fresh
    * reflection would otherwise be served from its own materialization —
    * a self-copy at best, a read of files being overwritten at worst.
    * Failures are ISOLATED per goal (the reference manager's contract):
    * one permanently broken reflection must not wedge the maintenance of
    * every other goal forever — but a goal is SKIPPED (not attempted)
    * when one of its own upstreams failed this pass, since rebuilding
    * from a known-failed upstream would materialize stale data as fresh.
    * Cycles still refuse loudly before anything runs. */
  /** Does the reflection's CREATE-time principal still hold SELECT over
    * its defining query? Checked before every SYSTEM-identity refresh.
    * No owner recorded (goal created while enforcement was off / by an
    * anonymous bootstrap session) passes — there was no principal whose
    * revocation could be outrun. Analysis runs under SYSTEM (the session
    * principal is the cron user, not the owner), then the owner's grants
    * are walked explicitly over the ANALYZED plan, so view-as-security
    * coverage is decided exactly as the analysis-time check would. */
  private def ownerStillAuthorized(spark: SparkSession, r: Reflection): Boolean =
    !graft.auth.Privileges.enforcing || (r.owner match {
      case None => true
      case Some(name) => graft.auth.Privileges.userByName(name) match {
        case None => false // creator dropped → their authorization is gone
        case Some(u) if u.admin => true
        case Some(u) => r.definingSql.forall { sql =>
          // analysis failures PROPAGATE: a transient FS error or a broken
          // defining query must surface as this goal's "failed: <cause>"
          // (refreshChain's catch), not masquerade as a revoked grant
          val analyzed = graft.auth.Privileges.withSystemContext {
            spark.sql(sql).queryExecution.analyzed
          }
          graft.auth.AuthorizeRule.selectAuthorized(u, analyzed)
        }
      }
    })

  def refreshChain(spark: SparkSession,
                   names: Seq[String]): Seq[(String, String)] = {
    val ordered = refreshOrder(names)
    val deps = dependencies()
    val failed = scala.collection.mutable.Set.empty[String]
    ordered.map { n =>
      val badUp = deps.getOrElse(n, Set.empty).intersect(failed)
      if (badUp.nonEmpty) {
        failed += n
        n -> s"skipped: upstream failed (${badUp.toSeq.sorted.mkString(", ")})"
      } else byName.get(n).flatMap(r => r.definingSql.map(r -> _)) match {
        case None => n -> "skipped: no stored SQL"
        case Some((r, sql)) =>
          try {
            // the stored SQL runs as SYSTEM below, so the CREATE-time
            // authorization must still hold NOW: a creator whose SELECT
            // was later revoked (or who was dropped) must not keep their
            // reflection refreshing through the SYSTEM identity —
            // definer-rights persistence of revoked access. Marked failed
            // so downstream goals don't rebuild from the stale upstream.
            if (!ownerStillAuthorized(spark, r)) {
              failed += n
              n -> s"skipped: privileges revoked (owner '${r.owner.getOrElse("?")}')"
            } else {
              // authorized at CREATE time (re-checked above); maintenance
              // re-runs as the SYSTEM principal (the reference manager
              // refreshes as SYSTEM) so a cron user without SELECT on the
              // base tables doesn't mark every goal failed and poison the
              // downstream chain
              graft.auth.Privileges.withSystemContext {
                withSubstitutionBypassed { refresh(n, spark.sql(sql)) }
              }
              n -> "refreshed"
            }
          }
          catch { case e: Exception =>
            failed += n
            n -> s"failed: ${Option(e.getMessage).getOrElse(e).toString.take(160)}"
          }
      }
    }
  }

  /** LOAD MATERIALIZATION (reference `$LOAD MATERIALIZATION METADATA`,
    * `services/reflection/load/LoadMaterializationHandler.java` — the
    * accelerator-internal statement that takes a just-(re)built
    * materialization live): the data at the reflection's path was
    * rewritten OUT OF BAND (an upstream job, the external-reflection
    * owner); re-validate it still carries the defining query's columns,
    * drop the cached scan plan, and re-pin base versions + refresh time —
    * queries substitute the new content from the next statement on.
    * Validation happens BEFORE any state changes: a broken rebuild must
    * not take down a serving reflection. */
  def loadMaterialization(spark: SparkSession, name: String): Reflection = {
    // admin-gated BEFORE resolution (the reference statement is
    // accelerator-internal, issued by the SYSTEM user): an ungated repin
    // would let any principal mark a stale materialization fresh and make
    // the engine serve stale data to everyone — and resolving first would
    // leak reflection existence through error differences
    graft.auth.Privileges.requireAdmin(spark, s"LOAD MATERIALIZATION $name")
    val r = byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown reflection: $name"))
    val have = graft.auth.Privileges.withSystemContext {
      spark.read.parquet(r.path).schema.fieldNames.toSet
    }
    val want = planByName.get(name).map(_.output.map(_.name).toSet)
      .getOrElse(Set.empty[String])
    require(want.subsetOf(have),
      s"LOAD MATERIALIZATION: data at ${r.path} lacks columns of the " +
        s"defining query: ${(want -- have).toSeq.sorted.mkString(", ")}")
    spark.catalog.refreshByPath(r.path)
    scanByNameCache.remove(name)
    noteRefreshed(name, System.currentTimeMillis(), kind = "load")
    repin(spark, name)
    byName(name)
  }

  // Refresh-period metadata (reference AccelerationSettings.refreshPeriod,
  // persisted with the goal): minutes between refreshes; absent = manual.
  private val refreshEvery = TrieMap.empty[String, Long]
  private val lastRefreshed = TrieMap.empty[String, Long]

  /** ALTER REFLECTION ... REFRESH EVERY n MINUTES | REFRESH MANUAL. */
  def setRefreshPolicy(name: String, minutes: Option[Long]): Unit = {
    require(byName.contains(name), s"unknown reflection: $name")
    minutes match {
      case Some(m) =>
        require(m > 0, "REFRESH EVERY period must be positive")
        refreshEvery.put(name, m); ()
      case None => refreshEvery.remove(name); ()
    }
    persist()
  }

  def refreshPolicyOf(name: String): Option[Long] = refreshEvery.get(name)
  def lastRefreshOf(name: String): Option[Long] = lastRefreshed.get(name)

  /** Names due under their refresh policy at `nowMs` (never refreshed =
    * due immediately; no policy = never due — manual reflections are the
    * operator's business). */
  def dueForMaintain(nowMs: Long): Seq[String] =
    refreshEvery.toSeq.collect {
      case (n, mins) if byName.contains(n) &&
        nowMs - lastRefreshed.getOrElse(n, 0L) >= mins * 60000L => n
    }.sorted

  /** One row of `sys.refreshes` (reference AccelerationListManager
    * .RefreshInfo — the refresh HISTORY behind the live goal state). */
  final case class RefreshEvent(refreshId: String, reflection: String,
                                kind: String, atMs: Long, path: String,
                                seriesOrdinal: Int)

  private val refreshLog = new java.util.concurrent.ConcurrentLinkedDeque[RefreshEvent]()
  private val RefreshLogCap = 1000
  // monotonic per-goal series counters — NOT derived from the bounded ring
  // (eviction would reset them) and bumped under the log lock (concurrent
  // refreshes must not share an ordinal)
  private val refreshSeries = TrieMap.empty[String, Int]

  /** Refresh history, newest first, bounded at [[RefreshLogCap]]. */
  def refreshes: Seq[RefreshEvent] = {
    import scala.jdk.CollectionConverters._
    refreshLog.iterator().asScala.toSeq
  }

  private[accel] def noteRefreshed(name: String, nowMs: Long,
                                   kind: String = "full"): Unit =
    refreshLog.synchronized {
      val ordinal = refreshSeries.updateWith(name) {
        case Some(n) => Some(n + 1)
        case None => Some(1)
      }.get
      refreshLog.addFirst(RefreshEvent(
        java.util.UUID.nameUUIDFromBytes(
          s"$name|$nowMs|$ordinal".getBytes("UTF-8")).toString,
        name, kind, nowMs,
        byName.get(name).map(_.path).getOrElse(""), ordinal))
      while (refreshLog.size() > RefreshLogCap) refreshLog.pollLast()
      lastRefreshed.put(name, nowMs)
      ()
    }

  // ---- per-dataset acceleration toggles (reference SqlAccelToggle,
  // alter.ftl: ALTER <dataset> ENABLE|DISABLE RAW|AGGREGATE ACCELERATION
  // → AccelToggleHandler): a dataset opts its reflections of one KIND out
  // of substitution without dropping them. Kind is decided by the
  // reflection's defining plan (an Aggregate root = aggregate reflection,
  // anything else = raw), anchor = the lake dirs its plan scans. ----
  private val accelOff = TrieMap.empty[String, Set[String]]

  /** ENABLE/DISABLE RAW|AGGREGATE ACCELERATION on a dataset (lake dir). */
  def setAccelToggle(dir: String, kind: String, enable: Boolean): Unit = {
    val k = kind.toLowerCase
    require(k == "raw" || k == "aggregate", s"unknown acceleration kind: $kind")
    val d = normPath(dir)
    accelOff.updateWith(d) {
      case Some(s) => val n = if (enable) s - k else s + k
        if (n.isEmpty) None else Some(n)
      case None => if (enable) None else Some(Set(k))
    }
    persist()
  }

  /** Disabled kinds for a dataset (sys/DESCRIBE surface). */
  def accelToggles(dir: String): Set[String] =
    accelOff.getOrElse(normPath(dir), Set.empty)

  /** Is `r`, serving as `kind`, disabled by any dataset it anchors on? */
  private def accelDisabled(r: Reflection, kind: String): Boolean =
    r.baseVersions.keysIterator.exists(d =>
      accelOff.getOrElse(normPath(d), Set.empty).contains(kind))

  /** The reflection's kind under the reference's taxonomy: a defining
    * plan that AGGREGATES (anywhere — an ORDER BY/LIMIT over a GROUP BY
    * still materializes pre-aggregated data, and the optimized ROOT is
    * then Sort/Limit, not Aggregate) is an aggregate reflection;
    * anything else is raw. */
  private def kindOf(r: Reflection): String =
    if (planByName.get(r.name).exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate])))
      "aggregate"
    else "raw"

  // ----- per-dataset reflection routing (reference
  // SqlAlterDatasetReflectionRouting, alter.ftl:625: ALTER TABLE t ROUTE
  // ALL REFLECTIONS TO QUEUE|ENGINE name — the ReflectionRoutingManager
  // binding refresh jobs of ONE dataset to a queue/engine, overriding
  // the global reflection queue) -------------------------------------

  private val routing = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Route refresh statements for reflections over `path` to `queue`
    * (None = back to DEFAULT, i.e. the global reflection queue). */
  def setRouting(path: String, queue: Option[String]): Unit = {
    queue match {
      case Some(q) => routing.put(normPath(path), q); ()
      case None    => routing.remove(normPath(path)); ()
    }
    persist()
  }

  /** The routed queue for a dataset path, if declared. The reference
    * routes at dataset, FOLDER and SPACE granularity
    * (`SqlAlterDatasetReflectionRouting.RoutingType`); a folder route is
    * a path-prefix route here, and the dataset's own route wins over any
    * ancestor's (deepest match), matching the reference's most-specific
    * resolution. */
  def routingFor(path: String): Option[String] = {
    val p = normPath(path)
    routing.get(p).orElse {
      // walk ancestors: nearest declared folder route wins
      Iterator.iterate(p)(s => s.substring(0, s.lastIndexOf('/').max(0)))
        .drop(1).takeWhile(_.nonEmpty)
        .map(routing.get).collectFirst { case Some(q) => q }
    }
  }

  /** The substitution rule. Idempotent (a substituted scan has a different
    * fingerprint), so it is safe under the optimizer's fixed-point batch. */
  private[graft] def normPath(p: String): String =
    p.replaceFirst("^file:/+", "/").stripSuffix("/")

  /** (lake dir -> snapshot version) pinned by each lake scan in the plan,
    * subqueries included — the one pin walk behind the plan cache, the
    * result cache and their freshness checks. */
  private[graft] def lakePins(plan: LogicalPlan): Map[String, Long] =
    (plan +: plan.subqueriesAll).flatMap(_.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location match {
          case lfi: graft.sources.LakeFileIndex if lfi.snapshotVersion >= 0 =>
            Seq(normPath(lfi.tableDirPath) -> lfi.snapshotVersion)
          case _ => Nil
        }
        case _ => Nil
      }
    }.flatten).toMap

  /** Are all pinned lake versions still the table's latest? (shared
    * freshness rule: reflections staleness gate + result-cache eviction —
    * one implementation so the two can never disagree). */
  private[graft] def versionsCurrent(spark: SparkSession,
                                     pins: Map[String, Long]): Boolean =
    pins.forall { case (d, v) =>
      graft.sources.SnapshotTable.forPath(spark, d).latestVersion == v
    }

  // ---------- subsumption matching helpers ----------

  private object Conjuncts extends org.apache.spark.sql.catalyst.expressions.PredicateHelper {
    def split(e: Expression): Seq[Expression] = splitConjunctivePredicates(e)
  }

  /** Side-qualified canonical string of an expression: each attribute is
    * reduced to `<join-tree-path>:<lowercase name>`, where the path is the
    * attribute's base relation's position in the join tree ("" at the
    * subtree root, left child appends '0', right child '1'). Two query
    * shapes with equal relKeys have identical tree positions, so same-named
    * columns on DIFFERENT sides (both tables carry a 'status') and the two
    * legs of a SELF-join stay distinguishable — the reference's
    * normalization step qualifies columns by originating table the same way
    * (`acceleration/normalization/`). */
  private def sideCanon(e: Expression, side: Map[ExprId, String]): String =
    e.transform {
      case a: AttributeReference =>
        AttributeReference(side.getOrElse(a.exprId, "?") + ":" + a.name.toLowerCase,
          a.dataType, a.nullable)(exprId = ExprId(0L), qualifier = Nil)
    }.toString

  /** Does `e` filter out rows where ALL its referenced attributes are NULL?
    * (Catalyst's null-rejection test, cf. EliminateOuterJoin: bind every
    * reference to an all-null row and see whether the predicate can still
    * pass.) Gates serving an INNER query from a LEFT-join materialization:
    * such a residual drops the MV's null-extended rows. */
  private def filtersOutAllNull(e: Expression): Boolean = {
    if (!e.deterministic) return false
    val attrs = e.references.toSeq
    if (attrs.isEmpty) return false
    try {
      val bound = BindReferences.bindReference(e, AttributeSeq(attrs))
      val v = bound.eval(new GenericInternalRow(attrs.length))
      v == null || v == java.lang.Boolean.FALSE
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** Structural decomposition of an aggregate's input subtree, ignoring
    * column-pruning projections and attribute ids: the base relation key
    * (file-source root paths; for joins, a tree of join type + child keys
    * + side-qualified condition canon) plus the accumulated Filter
    * conjuncts keyed by `<filter-site path>|<sideCanon>` (the original
    * expression is kept for residual re-binding). Keying conjuncts by side
    * makes self-joins and shared-name joins sound to match: `o1.x='F'` and
    * `o2.x='F'` get different keys. The filter SITE is part of the key
    * because under a LEFT join pre- vs post-join placement of a right-side
    * predicate changes results; both plans come out of the same optimizer,
    * so equivalent predicates land at the same site. `strictKeys` marks
    * conjuncts below the right side of a LEFT join: those cannot be
    * replayed post-hoc against the materialization (they fire BEFORE
    * null-extension), so they must be present in both plans or neither.
    * None → only exact matching applies (unknown node in the subtree). */
  private final case class ScanShape(relKey: String,
                                     conjuncts: Map[String, Expression],
                                     strictKeys: Set[String],
                                     // base-relation join-tree path per attribute
                                     attrSide: Map[ExprId, String],
                                     // for a root-level LEFT join: the relKey
                                     // this shape would have as INNER — an
                                     // inner query can be served from a LEFT
                                     // MV when its residual is null-rejecting
                                     // on the right side (rows the MV null-
                                     // extended are exactly those dropped)
                                     innerizedKey: Option[String],
                                     // attr = attr equi-conjuncts of every join
                                     // condition in the subtree: the authority
                                     // for recognizing optimizer-INFERRED
                                     // conjuncts (InferFiltersFromConstraints
                                     // rewrites a predicate through these
                                     // equalities onto the other side)
                                     equiPairs: Seq[(AttributeReference, AttributeReference)])

  private def scanShape(plan: LogicalPlan): Option[ScanShape] =
    scanShapeAt(plan, "")

  private def scanShapeAt(plan: LogicalPlan, path: String): Option[ScanShape] = plan match {
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
      scanShapeAt(child, path)
    case Filter(cond, child) =>
      scanShapeAt(child, path).map(s => s.copy(conjuncts =
        s.conjuncts ++ Conjuncts.split(cond)
          .map(e => s"$path|${sideCanon(e, s.attrSide)}" -> e)))
    case j: Join if j.condition.isDefined && j.hint == JoinHint.NONE &&
        (j.joinType == Inner || j.joinType == LeftOuter) =>
      // INNER and LEFT OUTER only: under LEFT, right-side pre-join filters
      // become strict (placement changes results); FULL/SEMI/ANTI change
      // row multiplicity or nullability in ways roll-up cannot replay.
      for {
        l <- scanShapeAt(j.left, path + "0")
        r <- scanShapeAt(j.right, path + "1")
      } yield {
        val side = l.attrSide ++ r.attrSide
        val cond = sideCanon(j.condition.get, side)
        val strict = l.strictKeys ++ r.strictKeys ++
          (if (j.joinType == LeftOuter) r.conjuncts.keySet else Set.empty)
        val pairs = Conjuncts.split(j.condition.get).collect {
          case org.apache.spark.sql.catalyst.expressions.EqualTo(
            a: AttributeReference, b: AttributeReference) => (a, b)
        }
        ScanShape(
          s"J(${j.joinType},${l.relKey},${r.relKey},$cond)",
          l.conjuncts ++ r.conjuncts,
          strict,
          side,
          if (path.isEmpty && j.joinType == LeftOuter)
            Some(s"J($Inner,${l.relKey},${r.relKey},$cond)")
          else None,
          pairs ++ l.equiPairs ++ r.equiPairs)
      }
    case lr: LogicalRelation =>
      lr.relation match {
        case h: HadoopFsRelation =>
          Some(ScanShape(
            "R(" + h.location.rootPaths.map(p => normPath(p.toString)).sorted.mkString(",") + ")",
            Map.empty, Set.empty,
            lr.output.map(_.exprId -> path).toMap,
            None, Nil))
        case _ => None
      }
    case _ => None
  }

  /** How a reflection output column can serve a query aggregate:
    * grouping passthrough, or re-aggregable function kind + arg canon
    * (side-qualified, so sum(o1.x) and sum(o2.x) stay distinct). */
  private def aggKey(ae: AggregateExpression,
                     side: Map[ExprId, String]): Option[(String, String)] =
    if (ae.isDistinct || ae.filter.nonEmpty || ae.mode != Complete) None
    else ae.aggregateFunction match {
      case s: Sum => Some(("sum", sideCanon(s.child, side)))
      case c: Count => Some(("count", c.children.map(sideCanon(_, side)).mkString(",")))
      case m: Min => Some(("min", sideCanon(m.child, side)))
      case m: Max => Some(("max", sideCanon(m.child, side)))
      case _ => None // avg/stddev/... are not directly roll-up-able
    }

  /** Try to serve Aggregate `q` from reflection `r` (plan `rp`) by roll-up:
    * query grouping ⊆ reflection grouping over the same input, the query's
    * filter conjuncts a SUPERSET of the reflection's (extra conjuncts become
    * a residual filter over the materialization, evaluable only when they
    * reference reflection grouping outputs), and every query aggregate
    * re-aggregates a reflection output column (sum→sum, count→sum, min→min,
    * max→max). The reference's most-used substitution case
    * (`acceleration/substitution/AbstractSubstitutionProvider.java`, residual
    * handling under `acceleration/normalization/`). */
  private def rollup(spark: SparkSession, q: Aggregate, r: Reflection,
                     rp: LogicalPlan): Option[LogicalPlan] = rp match {
    case ra: Aggregate =>
      val (qShape, rShape) = (scanShape(q.child), scanShape(ra.child)) match {
        case (Some(a), Some(b)) => (a, b)
        case _ => return None
      }
      // exact shape match, or an INNER query over a root-level LEFT-join MV
      // (sound only with a null-rejecting right-side residual, checked below)
      val innerOverLeft =
        qShape.relKey != rShape.relKey && rShape.innerizedKey.contains(qShape.relKey)
      if (qShape.relKey != rShape.relKey && !innerOverLeft) return None
      // reflection's conjuncts must all be present in the query (else the
      // materialization is missing rows the query needs); what the query
      // adds on top is the residual, applied to the materialization scan
      if (!rShape.conjuncts.keySet.subsetOf(qShape.conjuncts.keySet)) return None
      val qCanon = (e: Expression) => sideCanon(e, qShape.attrSide)
      // Equi-join equivalence classes (union-find over a=b join conjuncts):
      // used to recognize conjuncts the optimizer INFERRED across a join
      // (fk=dk ∧ fk<3 ⟹ dk<3 below the right side). Such a conjunct is
      // implied by its non-strict counterpart, so it is dropped rather than
      // replayed: for matched rows it is equivalent through the equality,
      // and a right row it prunes under a LEFT join could only null-extend
      // left rows the counterpart conjunct removes anyway.
      val rep: Map[ExprId, AttributeReference] = {
        val parent = scala.collection.mutable.Map.empty[ExprId, AttributeReference]
        def find(a: AttributeReference): AttributeReference = {
          val p = parent.getOrElse(a.exprId, a)
          if (p.exprId == a.exprId) a
          else { val root = find(p); parent(a.exprId) = root; root }
        }
        qShape.equiPairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra.exprId != rb.exprId) parent(ra.exprId) = rb
        }
        qShape.equiPairs.flatMap(p => Seq(p._1, p._2))
          .map(a => a.exprId -> find(a)).toMap
      }
      def repCanon(e: Expression): String = qCanon(e.transform {
        case a: AttributeReference => rep.getOrElse(a.exprId, a)
      })
      val nonStrictCanons: Set[String] = qShape.conjuncts.collect {
        case (k, e) if !qShape.strictKeys(k) => repCanon(e)
      }.toSet
      val residualKept = (qShape.conjuncts -- rShape.conjuncts.keySet)
        .filterNot { case (k, e) => qShape.strictKeys(k) && nonStrictCanons(repCanon(e)) }
      // a non-implied conjunct below the right side of a LEFT join fires
      // before null-extension: it cannot be replayed against the MV
      if (residualKept.keySet.exists(qShape.strictKeys)) return None
      val residual: Seq[Expression] = residualKept.values.toSeq
      // a nondeterministic residual (rand() < p) cannot be transplanted
      if (!residual.forall(_.deterministic)) return None
      if (innerOverLeft) {
        // the MV's null-extended rows (no right match) must be filtered out:
        // some residual conjunct referencing ONLY root-right-side attributes
        // must reject all-null inputs. Groups can mix a null-extended row
        // with genuinely-null right values only when right grouping columns
        // are NULL — and such groups are dropped by the same conjunct, which
        // the inner query's semantics also drop.
        val rejects = residual.exists { e =>
          val refs = e.references.toSeq
          refs.nonEmpty &&
            refs.forall(a => qShape.attrSide.get(a.exprId).exists(_.startsWith("1"))) &&
            filtersOutAllNull(e)
        }
        if (!rejects) return None
      }
      val rCanon = (e: Expression) => sideCanon(e, rShape.attrSide)
      val rGroupCanon = ra.groupingExpressions.map(rCanon).toSet
      // reflection output columns usable as grouping passthroughs / aggs
      val groupCols: Map[String, String] = ra.aggregateExpressions.collect {
        case a: AttributeReference if rGroupCanon(rCanon(a)) => rCanon(a) -> a.name
        case al @ Alias(child, _) if rGroupCanon(rCanon(child)) => rCanon(child) -> al.name
      }.toMap
      val aggCols: Map[(String, String), String] = ra.aggregateExpressions.collect {
        case al @ Alias(ae: AggregateExpression, _) if aggKey(ae, rShape.attrSide).isDefined =>
          aggKey(ae, rShape.attrSide).get -> al.name
      }.toMap
      // every query grouping expression must be a reflection grouping output
      val qGroups = q.groupingExpressions.map(qCanon)
      if (!qGroups.forall(groupCols.contains)) return None

      val scanPlan = reflectionScan(spark, r)
      val scanByName: Map[String, Attribute] = scanPlan.output.map(a => a.name -> a).toMap
      if (!(groupCols.values ++ aggCols.values).forall(scanByName.contains)) return None

      // Re-bind each residual conjunct onto the materialization scan: every
      // base-table attribute it references must survive as a reflection
      // grouping output (a predicate over grouping columns is constant
      // within each pre-aggregated group, so filtering materialized rows ≡
      // filtering base rows). Any unmappable attribute → no substitution.
      def rebind(e: Expression): Option[Expression] = {
        var ok = true
        val bound = e.transform {
          case a: AttributeReference =>
            groupCols.get(qCanon(a)).flatMap(scanByName.get) match {
              case Some(col) => castTo(col, a.dataType)
              case None => ok = false; a
            }
        }
        if (ok) Some(bound) else None
      }
      val residualBound: Seq[Expression] = traverseOpt(residual)(rebind) match {
        case Some(bs) => bs
        case None => return None
      }
      val filteredScan: LogicalPlan =
        residualBound.reduceOption(And).map(Filter(_, scanPlan)).getOrElse(scanPlan)

      def reAgg(fn: String, col: Attribute): Expression = {
        val f = fn match {
          case "sum" | "count" => Sum(col) // counts roll up by summing
          case "min" => Min(col)
          case "max" => Max(col)
        }
        val ae = AggregateExpression(f, Complete, isDistinct = false)
        // COUNT over zero rows is 0, but Sum-of-counts over an empty
        // reflection is NULL — coalesce preserves the original semantics
        if (fn == "count")
          org.apache.spark.sql.catalyst.expressions.Coalesce(
            Seq(ae, org.apache.spark.sql.catalyst.expressions.Literal(0L)))
        else ae
      }
      // map each query output expr onto the reflection scan
      val mapped: Option[Seq[NamedExpression]] =
        traverseOpt(q.aggregateExpressions) {
          case a: AttributeReference if groupCols.contains(qCanon(a)) =>
            Some(Alias(castTo(scanByName(groupCols(qCanon(a))), a.dataType), a.name)(exprId = a.exprId))
          case al @ Alias(child, _) if groupCols.contains(qCanon(child)) =>
            Some(Alias(castTo(scanByName(groupCols(qCanon(child))), al.dataType), al.name)(exprId = al.exprId))
          case al @ Alias(ae: AggregateExpression, _) =>
            for {
              key <- aggKey(ae, qShape.attrSide)
              colName <- aggCols.get(key)
            } yield Alias(castTo(reAgg(key._1, scanByName(colName)), al.dataType), al.name)(exprId = al.exprId)
          case _ => None
        }
      mapped.map { out =>
        val grouping = qGroups.map(g => scanByName(groupCols(g)))
        Aggregate(grouping, out, filteredScan)
      }
    case _ => None
  }

  private def castTo(e: Expression, dt: org.apache.spark.sql.types.DataType): Expression =
    if (e.dataType == dt) e else Cast(e, dt)

  private def traverseOpt[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.map(f)
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }

  final class Substitute(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (byName.isEmpty || bypass.get()) return plan
      // A write whose source matches a reflection defined over the SAME
      // target path must not be rewritten to read its own output mid-
      // overwrite (refresh would otherwise consume the files it deletes).
      val excluded: Set[String] = plan match {
        case cmd: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
          Set(normPath(cmd.outputPath.toString))
        case _ => Set.empty
      }
      // staleness gate, decided ONCE per query plan (not per candidate
      // node): a reflection whose base lake table advanced since its
      // materialization must not serve — the fingerprint keys on the
      // table PATH, which still matches, but the content moved on.
      // Stale reflections stay registered; a refresh() re-pins them.
      val fresh: Map[String, Boolean] =
        byName.iterator.map { case (n, r) => n -> isFresh(spark, r) }.toMap
      def usable(r: Reflection): Boolean =
        !excluded.contains(normPath(r.path)) && fresh.getOrElse(r.name, false) &&
          !accelDisabled(r, kindOf(r)) // SqlAccelToggle: dataset opted out
      // Structural pre-filter: fingerprinting a node costs canonicalize +
      // toString + MD5 = O(subtree), so attempting it on EVERY subtree makes
      // the pass O(plan²) in string building on deep plans. A node can only
      // exact-match a reflection whose defining plan has the same root class
      // and output arity — both O(1) to read — so anything else is skipped
      // without fingerprinting. Computed once per apply().
      val exactShapes: Set[(Class[_], Int)] =
        byName.keysIterator.flatMap(planByName.get)
          .map(p => (p.getClass: Class[_], p.output.size)).toSet
      // each node's fingerprint is computed exactly once (the old
      // guard+body pattern paid canonicalize+MD5 twice per node)
      def exact(sub: LogicalPlan): Option[LogicalPlan] =
        if (!exactShapes.contains((sub.getClass, sub.output.size))) None
        else byFingerprint.get(fingerprintPlan(sub)).filter(usable).map { r =>
          val scan = reflectionScan(spark, r)
          // Re-alias the scan's output to the substituted subtree's exprIds
          // so parent operators keep resolving.
          val aliased: Seq[NamedExpression] = sub.output.zip(scan.output).map {
            case (orig, repl) => Alias(repl, orig.name)(exprId = orig.exprId)
          }
          Project(aliased, scan)
        }
      def subsumed(sub: LogicalPlan): Option[LogicalPlan] = sub match {
        case q: Aggregate =>
          // deterministic candidate order (by name): which of several
          // eligible reflections serves a query is stable across runs
          // (TrieMap iteration order is not)
          byName.toSeq.sortBy(_._1).iterator.map(_._2).filter(usable).flatMap { r =>
            planByName.get(r.name).flatMap(rp => rollup(spark, q, r, rp))
          }.nextOption()
        case _ => None
      }
      plan.transformUp {
        case sub =>
          exact(sub).orElse(subsumed(sub)).getOrElse(sub)
      }
    }
  }

  /** Install the substitution rule into a session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val already = spark.experimental.extraOptimizations.exists(_.isInstanceOf[Substitute])
    if (!already)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new Substitute(spark)
  }
}

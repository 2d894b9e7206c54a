package graft.sqlext

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{StringType, StructType}

import graft.accel.Reflections
import graft.streaming.{Pipe, Pipes}

/** SQL statement extensions, injected via
  * `SparkSessionExtensions.injectParser`. The statements and their grammar
  * are [[SqlGrammar]]'s rule table; a statement no rule accepts goes to
  * Spark's parser untouched, after the top-level QUALIFY rewrite
  * ([[SqlGrammar.qualifyRewrite]]); its path-qualified file tables are
  * then marked for the file metadata cache
  * ([[graft.sources.FileMetadata.mark]]). The commands the rules build
  * live in the companion object. */
class GraftSqlParser(spark: SparkSession, delegate: ParserInterface) extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    parseWith(sqlText, delegate.parsePlan)

  /** Spark 4 routes `spark.sql(text, args)` through THIS method, and the
    * ParserInterface DEFAULT silently drops the parameter context (it
    * just calls parsePlan) — a wrapping parser that doesn't forward it
    * leaves every `?`/`:name` marker unbound at analysis. Graft-grammar
    * statements take no parameters; everything else reaches the
    * delegate's binding-aware override. */
  override def parsePlanWithParameters(sqlText: String,
      parameters: org.apache.spark.sql.catalyst.parser.ParameterContext)
      : LogicalPlan =
    parseWith(sqlText, delegate.parsePlanWithParameters(_, parameters))

  /** RUN SCRIPT resolves to the INNER statement's plan (full result
    * pass-through; the saved text is analyzed and privilege-checked
    * under the CALLER, like the reference's SQL runner — stored SQL is
    * not stored authority). Depth-capped against script cycles. */
  private val runScriptDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  private def runScriptPlan(name: String): LogicalPlan = {
    val d = runScriptDepth.get().intValue()
    require(d < 10, s"RUN SCRIPT $name: nesting exceeds 10 levels (cycle?)")
    val content = graft.catalog.Scripts.read(spark, name).content
    runScriptDepth.set(d + 1)
    try parsePlan(content) finally runScriptDepth.set(d)
  }

  private def parseWith(sqlText: String,
                        fallback: String => LogicalPlan): LogicalPlan = {
    val c = new Cursor(sqlText, runScriptPlan)
    SqlGrammar.command(c).getOrElse(SqlGrammar.qualifyRewrite(c).map(parsePlan)
      .getOrElse(graft.sources.FileMetadata.mark(fallback(sqlText))))
  }

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {
  /** TBLPROPERTIES marker set by ALTER ... CLUSTER BY: the sort-order
    * slot holds CLUSTERING keys (reference
    * `SystemSchemas.CLUSTERING_TABLE_PROPERTY` —
    * "use sort order as clustering columns"). */
  val ClusteringProp = "graft.clustering"

  private[sqlext] def out(names: String*): Seq[Attribute] =
    names.map(n => AttributeReference(n, StringType, nullable = true)())

  case class CreateReflectionCommand(name: String, path: String, query: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("reflection", "fingerprint")
    override def run(spark: SparkSession): Seq[Row] = {
      val r = Reflections.create(name, spark.sql(query), path, Some(query))
      Seq(Row(r.name, r.fingerprint))
    }
  }

  /** CREATE EXTERNAL REFLECTION: register a user-managed materialization
    * (reference `SqlAddExternalReflection.java` — the target data is NOT
    * written by the engine, only validated and registered). */
  case class CreateExternalReflectionCommand(name: String, path: String, query: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("reflection", "fingerprint")
    override def run(spark: SparkSession): Seq[Row] = {
      val r = Reflections.createExternal(name, spark.sql(query), path, Some(query))
      Seq(Row(r.name, r.fingerprint))
    }
  }

  /** ALTER TABLE ... CREATE AGGREGATE REFLECTION ... DIMENSIONS(...)
    * MEASURES(...) [PARTITION BY (...)]: the declarative BI-admin surface
    * (reference `alter.ftl:434,591`, `SqlCreateReflection.java`) lowered
    * onto the same materialize/serve machinery as CREATE REFLECTION — the
    * generated defining query is the canonical roll-up shape
    * (per-group COUNT + SUM/MIN/MAX per measure, the reference's default
    * measures) that [[graft.accel.Reflections.Substitute]] serves
    * aggregates from, and REFRESH REFLECTION re-materializes from the
    * stored SQL like any other reflection. */
  case class CreateAggReflectionCommand(table: String, name: String,
      path: String, dimensions: Seq[String], measures: Seq[String],
      partitionBy: Seq[String], override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      require(dimensions.nonEmpty, "DIMENSIONS must name at least one column")
      val aggCols = "count(1) AS cnt" +: measures.flatMap(m => Seq(
        s"sum($m) AS sum_$m", s"min($m) AS min_$m", s"max($m) AS max_$m"))
      val sql = s"SELECT ${(dimensions ++ aggCols).mkString(", ")} " +
        s"FROM $table GROUP BY ${dimensions.mkString(", ")}"
      val r = Reflections.create(name, spark.sql(sql), path, Some(sql), partitionBy)
      Seq(Row(r.name, r.fingerprint))
    }
  }

  /** ALTER TABLE ... CREATE RAW REFLECTION ... DISPLAY(...): declarative
    * raw reflection — a column-pruned copy of the dataset, optionally
    * partitioned, served to any query touching only the displayed
    * columns. */
  case class CreateRawReflectionCommand(table: String, name: String,
      path: String, display: Seq[String], partitionBy: Seq[String],
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      require(display.nonEmpty, "DISPLAY must name at least one column")
      val sql = s"SELECT ${display.mkString(", ")} FROM $table"
      val r = Reflections.create(name, spark.sql(sql), path, Some(sql), partitionBy)
      Seq(Row(r.name, r.fingerprint))
    }
  }

  /** REFRESH REFLECTION: re-materialize from the stored defining SQL and
    * re-pin base lake versions, so a reflection that went stale serves
    * again (reference: ReflectionManager refresh). */
  case class RefreshReflectionCommand(name: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("reflection")
    override def run(spark: SparkSession): Seq[Row] = {
      val r = Reflections.list.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"unknown reflection: $name"))
      val sql = r.definingSql.getOrElse(throw new IllegalArgumentException(
        s"reflection '$name' was created via the API; refresh it with " +
          "Reflections.refresh(name, df)"))
      Reflections.refresh(name, spark.sql(sql))
      Seq(Row(name))
    }
  }

  case class DropReflectionCommand(name: String) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = { Reflections.drop(name); Nil }
  }

  /** ALTER LAKE '<dir>' REFRESH REFLECTIONS (reference
    * SqlRefreshReflectionsForDataset): refresh every SQL-defined
    * reflection anchored on the dataset — the anchors are exactly the
    * reflection's baseVersions keys. API-created reflections (no defining
    * SQL) are skipped rather than failing the bulk statement; the class
    * name carries "Reflection" so WLM auto-routing sends this to the
    * reflection queue like single refreshes. */
  case class RefreshReflectionsForDatasetCommand(dir: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      // admin-gated like LOAD MATERIALIZATION: the chain runs each goal's
      // stored SQL under SYSTEM (bypassing per-object checks), so the
      // STATEMENT must not be reachable by arbitrary principals
      graft.auth.Privileges.requireAdmin(spark, "REFRESH REFLECTIONS FOR DATASET")
      val target = Reflections.normPath(dir)
      val anchored = Reflections.list.filter(
        _.baseVersions.keys.exists(Reflections.normPath(_) == target))
      require(anchored.nonEmpty,
        s"REFRESH REFLECTIONS: no reflections anchored on '$dir'")
      // dependency order WITHIN the anchored set too: one anchored
      // reflection may read another's materialization
      Reflections.refreshChain(spark,
        anchored.filter(_.definingSql.isDefined).map(_.name))
        .map { case (n, st) => Row(n, st) }
    }
  }

  /** REFRESH REFLECTIONS (no dataset): dependency-ordered bulk refresh of
    * every SQL-defined reflection — the reference ReflectionManager's
    * full pass, ordered through its DependencyGraph (a reflection whose
    * defining query reads another's materialization refreshes AFTER it,
    * or it would rebuild from stale upstream data). Cycles refuse loudly.
    * API-created reflections (no stored SQL) are skipped — nothing to
    * re-run. Returns the order used. */
  case class RefreshAllReflectionsCommand(
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      // admin-gated: see RefreshReflectionsForDatasetCommand
      graft.auth.Privileges.requireAdmin(spark, "REFRESH REFLECTIONS")
      val names = Reflections.list.filter(_.definingSql.isDefined).map(_.name)
      require(names.nonEmpty, "REFRESH REFLECTIONS: no SQL-defined reflections")
      Reflections.refreshChain(spark, names).map { case (n, st) => Row(n, st) }
    }
  }

  /** MAINTAIN REFLECTIONS — the scheduler SEAM (reference
    * ReflectionManager wakes periodically and refreshes goals whose
    * refresh period elapsed; here an operator cron issues this statement,
    * so the sandbox needs no daemon): refresh every reflection whose
    * `REFRESH EVERY n MINUTES` policy is due, in dependency order, and
    * report what ran vs what was current. */
  case class MaintainReflectionsCommand(
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      // admin-gated: see RefreshReflectionsForDatasetCommand
      graft.auth.Privileges.requireAdmin(spark, "MAINTAIN REFLECTIONS")
      // a due API-created reflection (no stored SQL) must be REPORTED as
      // due-but-unrefreshable (refreshChain says "skipped: no stored
      // SQL"), not silently listed as 'current' — it may be stale
      val due = Reflections.dueForMaintain(System.currentTimeMillis())
      val ran = Reflections.refreshChain(spark, due)
      val ranNames = ran.map(_._1).toSet
      val current = Reflections.list.map(_.name).filterNot(ranNames)
      ran.map { case (n, st) => Row(n, st) } ++
        current.sorted.map(Row(_, "current"))
    }
  }

  /** LOAD MATERIALIZATION r (reference internal `LOAD MATERIALIZATION
    * METADATA` statement, LoadMaterializationHandler.java): the reflection's
    * materialization was rebuilt out of band — validate and take it
    * live (cache drop + re-pin). */
  case class LoadMaterializationCommand(name: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val r = Reflections.loadMaterialization(spark, name)
      Seq(Row(r.name, r.path))
    }
  }

  /** ALTER REFLECTION r REFRESH EVERY n MINUTES | REFRESH MANUAL —
    * per-goal refresh period (reference AccelerationSettings
    * refreshPeriod; MANUAL clears it). Metadata only; MAINTAIN honors it. */
  case class AlterReflectionPolicyCommand(name: String, minutes: Option[Long],
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      Reflections.setRefreshPolicy(name, minutes)
      Seq(Row(name, minutes.map(m => s"every $m min").getOrElse("manual")))
    }
  }

  /** ALTER TABLE <name> FORGET METADATA (reference SqlForgetTable):
    * remove the promoted dataset's DEFINITION — the folder and its data
    * are untouched, only the promotion is forgotten (re-promote to get it
    * back). The SQL twin of `DELETE /catalog/<name>`. */
  case class ForgetMetadataCommand(name: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.server.GraftRestServer.forgetPromotion(spark, name)
      Seq(Row(name))
    }
  }

  // output as a constructor member: TreeNode.makeCopy requires a
  // constructor whose arity matches productArity (zero-arg commands fail
  // canonicalization)
  case class ShowReflectionsCommand(override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      Reflections.list.map(r => Row(r.name, r.fingerprint, r.path))
  }

  /** EXPLAIN ACCELERATION <query>: per registered reflection, whether the
    * query's optimized plan actually reads its materialization, and
    * whether it is fresh against its base lake tables (reference: the job
    * profile's acceleration section,
    * `exec/planner/AccelerationDetailsPopulator.java`,
    * `services/accelerator/AccelerationDetailsUtils.java`). */
  case class ExplainAccelerationCommand(querySql: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      // plan WITHOUT executing: spark.sql() runs commands eagerly, so
      // `EXPLAIN ACCELERATION <DDL/DML>` must be rejected BEFORE building
      // a Dataset (whose construction executes Command plans)
      val parsed = spark.sessionState.sqlParser.parsePlan(querySql)
      val isCommand =
        parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] ||
          parsed.getClass.getSimpleName.startsWith("InsertInto")
      if (isCommand)
        throw new IllegalArgumentException(
          "EXPLAIN ACCELERATION only supports queries, not commands/DML")
      val optimized = org.apache.spark.sql.graft.Bridge.ofRows(spark, parsed)
        .queryExecution.optimizedPlan
      val scanned: Set[String] = optimized.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(p => Reflections.normPath(p.toString))
            case _ => Nil
          }
      }.flatten.toSet
      Reflections.list.map { r =>
        Row(r.name, r.fingerprint, scanned.contains(Reflections.normPath(r.path)).toString,
          Reflections.isFresh(spark, r).toString)
      }
    }
  }

  /** ALTER SESSION CLEAR RESULT CACHE (reference
    * `exec/planner/sql/parser/SqlAlterClearPlanCache.java`). */
  case class ClearResultCacheCommand() extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.accel.ResultCache.invalidateAll(); Seq.empty
    }
  }

  /** ALTER SESSION CLEAR PLAN CACHE (reference
    * `exec/planner/sql/parser/SqlAlterClearPlanCache.java` — this is the
    * statement that clears the PLAN cache; the result-cache twin above
    * keeps its historical spelling). */
  case class ClearPlanCacheCommand() extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.accel.PlanCache.invalidateAll(); Seq.empty
    }
  }

  /** Cancel a RUNNING statement by its sys_running_queries id (reference
    * jobs-service cancel, `LocalJobsService.java:3060` — routed to the
    * foreman's requestCancelQuery; here: kill the statement's job group).
    * Returns whether anything was cancelled — false mirrors the
    * reference's not-found ack for finished/unknown jobs. While auth
    * enforcement is on, a caller who is neither admin nor the statement's
    * owner is refused with a SecurityException (RunningQueries.cancel). */
  case class CancelQueryCommand(id: Long, override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      graft.engine.RunningQueries.cancel(spark, id) match {
        case Right(found) => Seq(Row(String.valueOf(found)))
        case Left(denied) => throw new SecurityException(denied)
      }
  }

  // ---- users / roles / privileges (reference Parser.tdd:656-660;
  // enforcement: graft.auth.AuthorizeRule check rule + Privileges) ----

  /** CREATE USER name PASSWORD '...' [ADMIN] — salted-SHA-256 credential
    * (reference SqlCreateUser, `role.ftl`). Free while enforcement is off
    * (bootstrap); admin-only while on. */
  case class CreateUserCommand(name: String, password: String, admin: Boolean,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.createUser(spark, name, password, admin)
      Seq(Row(name.toLowerCase))
    }
  }

  case class DropUserCommand(name: String) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.dropUser(spark, name); Nil
    }
  }

  case class CreateRoleCommand(name: String, override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.createRole(spark, name)
      Seq(Row(name.toLowerCase))
    }
  }

  case class DropRoleCommand(name: String) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.dropRole(spark, name); Nil
    }
  }

  /** GRANT/REVOKE ROLE r TO/FROM USER u — role membership. */
  case class GrantRoleCommand(role: String, user: String, granting: Boolean)
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      if (granting) graft.auth.Privileges.grantRole(spark, role, user)
      else graft.auth.Privileges.revokeRole(spark, role, user)
      Nil
    }
  }

  /** Parse a forecaster body and REFUSE commands/DML: Dataset creation
    * executes command plans eagerly, so an EXPLAIN whose contract is
    * "never executes" must reject them BEFORE building the DataFrame
    * (both Command nodes from this parser and Spark's unresolved
    * *Statement forms like InsertIntoStatement). */
  private def queryOnlyDf(spark: SparkSession, sql: String, what: String)
      : org.apache.spark.sql.DataFrame = {
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    require(!parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] &&
      !parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ParsedStatement],
      s"$what only accepts a QUERY body — commands/DML would execute")
    org.apache.spark.sql.graft.Bridge.ofRows(spark, parsed)
  }

  /** GRANT/REVOKE ... ON BRANCH|TAG ref IN CATALOG '<dir>'
    * (SqlGrantOnReference): a privilege scoped to ONE ref of a lake
    * table. COMMIT authorizes mutations targeting that branch without
    * table-wide DML grants (main and sibling branches stay refused);
    * USAGE authorizes pinning reads to the ref without table-wide
    * SELECT. Granting requires the ref to exist (a grant on a typo'd
    * name would silently never apply); revoking doesn't (refs get
    * dropped, revocations must still land). */
  case class GrantOnRefCommand(actions: Seq[String], refType: String,
      ref: String, dir: String, kind: String, grantee: String,
      granting: Boolean) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      if (granting) {
        // authorization FIRST: resolving the ref before the gate would
        // let unprivileged principals probe a table's branch namespace
        // through error-message differences
        graft.auth.Privileges.requireAdminOrOwner(spark,
          graft.auth.Privileges.normObj(dir), s"GRANT ON $refType $ref")
        val r = graft.sources.SnapshotTable.forPath(spark, dir).getRef(ref)
        require(r.refType == refType,
          s"'$ref' is a ${r.refType}, not a $refType")
        graft.auth.Privileges.grantOnRef(spark, actions, dir, refType, ref,
          kind, grantee)
      } else {
        graft.auth.Privileges.revokeOnRef(spark, actions, dir, refType, ref,
          kind, grantee)
      }
      Nil
    }
  }

  /** GRANT/REVOKE ... ON CATALOG '<dir>' (SqlGrantCatalog):
    * CREATE_BRANCH/CREATE_TAG gate CREATE BRANCH|TAG on the table. */
  case class GrantOnCatalogCommand(actions: Seq[String], dir: String,
      kind: String, grantee: String, granting: Boolean)
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.grantOnCatalog(spark, actions, dir, kind,
        grantee, granting)
      Nil
    }
  }

  /** SHOW GRANTS ON BRANCH|TAG ref IN CATALOG '<dir>': every grantee of
    * the ref-scoped object. */
  case class ShowGrantsOnRefCommand(refType: String, ref: String, dir: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val o = graft.auth.Privileges.refObj(dir, refType, ref)
      graft.auth.Privileges.listGrants.filter(_._4 == o)
        .map { case (k, g, a, _) => Row(k, g, a) }
    }
  }

  /** REFRESH DATASET (reference SqlRefreshDataset → the unlimited-splits
    * incremental metadata refresh): reconcile a promoted dataset's
    * maintained file index — whole, per-file, per-partition or
    * regex-scoped — against the filesystem; AUTO PROMOTION promotes a
    * quoted path first. See [[graft.server.GraftRestServer.refreshDataset]]. */
  case class RefreshDatasetCommand(nameOrPath: String,
      filesList: Option[Seq[String]], partSpecs: Option[Seq[(String, String)]],
      regex: Option[String], promo: Option[Boolean], force: Option[Boolean],
      deleteWhenMissing: Option[Boolean], errorOnConcurrent: Boolean,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      import graft.server.GraftRestServer
      val scopes = Seq(filesList.isDefined, partSpecs.isDefined, regex.isDefined)
      require(scopes.count(identity) <= 1,
        "REFRESH DATASET takes at most one FOR FILES|PARTITIONS|REGEX scope")
      val scope: GraftRestServer.RefreshScope =
        if (filesList.isDefined) GraftRestServer.RefreshScope.Files(filesList.get)
        else if (partSpecs.isDefined) GraftRestServer.RefreshScope.Partitions(partSpecs.get)
        else if (regex.isDefined) GraftRestServer.RefreshScope.Regex(regex.get)
        else GraftRestServer.RefreshScope.All
      val (ds, fmt, total, added, removed, status) =
        GraftRestServer.refreshDataset(spark, nameOrPath, scope, promo,
          force, deleteWhenMissing, errorOnConcurrent)
      Seq(Row(ds, fmt, total.toString, added.toString, removed.toString, status))
    }
  }

  /** CREATE SOURCE name TYPE jdbc|files|lake|hive ('k'='v', ...)
    * (reference dac SourceResource creates sources; our SQL DDL is the
    * engine-surface glue for the same lifecycle). Admin-gated: sources
    * are global infrastructure. Registers the name, publishes jdbc conf
    * keys for `external_query`/EXTERNAL QUERY, and runs the first real
    * connectivity probe — the returned row carries the probed state. */
  case class CreateSourceCommand(name: String, kind: String,
      props: Map[String, String], ifNotExists: Boolean,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAdmin(spark, s"CREATE SOURCE $name")
      val s = graft.catalog.Sources.create(spark, name, kind, props, ifNotExists)
      Seq(Row(s.name, s.kind, s.status, s.message))
    }
  }

  /** DROP SOURCE name — unregisters and clears its published conf. */
  case class DropSourceCommand(name: String) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAdmin(spark, s"DROP SOURCE $name")
      graft.catalog.Sources.drop(spark, name)
      Nil
    }
  }

  /** ALTER SOURCE name REFRESH STATUS (SqlRefreshSourceStatus →
    * RefreshSourceStatusHandler): re-probe connectivity and store the
    * new state. The statement reports a bad probe rather than failing —
    * exactly the handler's "Failed to refresh status" success-row. */
  case class RefreshSourceStatusCommand(name: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      // admin-gated like the rest of the source lifecycle: an anonymous
      // principal must not be able to drive server-side connection
      // attempts against registered URLs
      graft.auth.Privileges.requireAdmin(spark, s"ALTER SOURCE $name REFRESH STATUS")
      val s = graft.catalog.Sources.refreshStatus(spark, name)
      Seq(Row(s.name, s.status, s.message))
    }
  }

  /** ALTER SOURCE name CLEAR PERMISSION CACHE
    * (SqlClearSourcePermissionCache): drop the memoized grant closures.
    * Ours is one engine-wide registry (no per-external-ACL caches in the
    * sandbox), so the statement validates the source name and clears the
    * whole cache — reporting how many closures were held. */
  case class ClearPermissionCacheCommand(name: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAdmin(spark,
        s"ALTER SOURCE $name CLEAR PERMISSION CACHE")
      graft.catalog.Sources.get(name) // unknown source refuses loudly
      Seq(Row(name.toLowerCase, graft.auth.Privileges.clearPermissionCache().toString))
    }
  }

  /** SHOW SOURCES: the registry with live states (reference sys sources
    * surface). */
  case class ShowSourcesCommand(limit: Option[Int],
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      graft.catalog.Sources.list(limit).map(s =>
        Row(s.name, s.kind, s.status, s.message, s.lastProbeMs.toString))
  }

  /** CREATE|ALTER SCRIPT name AS '<sql>' (reference ScriptServiceImpl
    * create/updateScript; limits enforced there). */
  case class ScriptDdlCommand(name: String, content: Option[String],
      create: Boolean, override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val s = if (create) graft.catalog.Scripts.create(spark, name, content.get)
              else graft.catalog.Scripts.update(spark, name, content.get)
      Seq(Row(s.name, s.owner))
    }
  }

  /** DROP SCRIPT (DELETE-gated: owner/admin/grantee). */
  case class DropScriptCommand(name: String) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.catalog.Scripts.drop(spark, name); Nil
    }
  }

  /** DESCRIBE SCRIPT (VIEW-gated): the stored text and its metadata. */
  case class DescribeScriptCommand(name: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val s = graft.catalog.Scripts.read(spark, name)
      Seq(Row(s.name, s.owner, s.content, s.createdMs.toString,
        s.modifiedMs.toString))
    }
  }

  /** SHOW SCRIPTS: the scripts VISIBLE to this session (own +
    * VIEW-granted; admins see all; everything while enforcement is off). */
  case class ShowScriptsCommand(limit: Option[Int],
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      graft.catalog.Scripts.visible(spark, limit).map(s =>
        Row(s.name, s.owner, s.modifiedMs.toString))
  }

  /** GRANT/REVOKE ... ON ALL DATASETS IN FOLDER '<dir>' | SOURCE <name>
    * (SqlGrantOnAllDatasets): a container grant covering every dataset
    * path under the prefix. A SOURCE resolves through the registry to
    * its path (files/lake); jdbc sources refuse — remote access is
    * granted per source via `GRANT ... ON 'external:<name>'`. */
  case class GrantAllDatasetsCommand(action: String, container: String,
      target: String, kind: String, grantee: String, granting: Boolean)
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val dir = container match {
        case "folder" =>
          require(target.contains("/"),
            "GRANT ON ALL DATASETS IN FOLDER expects a quoted path")
          target
        case "source" =>
          // admin gate FIRST: resolving the source before any
          // authorization would let non-admins probe source existence
          // and kind through error differences (sources are global
          // infra; their bulk grants are admin-issued)
          graft.auth.Privileges.requireAdmin(spark,
            "GRANT ON ALL DATASETS IN SOURCE")
          val s = graft.catalog.Sources.get(target)
          require(s.kind == "files" || s.kind == "lake",
            s"ON ALL DATASETS IN SOURCE: '$target' is a ${s.kind} source — " +
              s"grant remote access per source via 'external:${s.name}'")
          s.props("path")
      }
      graft.auth.Privileges.grantOnAllDatasets(spark, action, dir, kind,
        grantee, granting)
      Nil
    }
  }

  /** SHOW GRANTS ON SCRIPT: grantees of the resolved script (VIEW-gated
    * resolution — strangers get "unknown script", never a grant list). */
  case class ShowGrantsOnScriptCommand(name: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val sc = graft.catalog.Scripts.read(spark, name)
      val o = graft.catalog.Scripts.scriptObj(sc.owner, sc.name)
      Row("owner", sc.owner, "ownership") +:
        graft.auth.Privileges.listGrants.filter(_._4 == o)
          .map { case (k, g, a, _) => Row(k, g, a) }
    }
  }

  /** GRANT/REVOKE VIEW|MODIFY|DELETE|MANAGE_GRANTS ON SCRIPT
    * (SqlGrantOnScript): owner, admin, or a MANAGE_GRANTS holder shares. */
  case class GrantOnScriptCommand(actions: Seq[String], name: String,
      kind: String, grantee: String, granting: Boolean)
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.catalog.Scripts.grantOnScript(spark, actions, name, kind,
        grantee, granting)
      Nil
    }
  }

  /** GRANT/REVOKE SELECT|ALL ON obj TO/FROM USER|ROLE g — object is a
    * table/view name, a quoted lake/parquet path, or `*`. */
  case class GrantCommand(action: String, obj: String, kind: String,
      grantee: String, granting: Boolean) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      if (granting) graft.auth.Privileges.grant(spark, action, obj, kind, grantee)
      else graft.auth.Privileges.revoke(spark, action, obj, kind, grantee)
      Nil
    }
  }

  /** AUTHENTICATE USER u PASSWORD '...': verify credentials and bind the
    * principal to THIS session (token in the session conf). The wire
    * surfaces authenticate with the same statement — each Thrift/Connect
    * connection owns a cloned session, so the binding is per-connection. */
  case class AuthenticateCommand(name: String, password: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val tok = graft.auth.Privileges.login(spark, name, password)
      Seq(Row(name.toLowerCase, tok))
    }
  }

  /** SHOW GRANTS [FOR grantee]: the privilege table, optionally filtered. */
  case class ShowGrantsCommand(who: Option[String],
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      graft.auth.Privileges.listGrants
        .filter(g => who.forall(w => g._2 == w.toLowerCase))
        .map { case (k, g, a, o) => Row(k, g, a, o) }
  }

  /** GRANT OWNERSHIP (SqlGrantOwnership): transfer an object's owner. */
  case class GrantOwnershipCommand(obj: String, kind: String, grantee: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.grantOwnership(spark, obj, kind, grantee)
      Seq(Row(graft.auth.Privileges.normObj(obj), kind.toLowerCase,
        grantee.toLowerCase))
    }
  }

  /** SHOW GRANTS ON <object>: every grantee of the object, owner first. */
  case class ShowGrantsOnCommand(obj: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val o = graft.auth.Privileges.normObj(obj)
      val owner = graft.auth.Privileges.ownerOf(obj).toSeq
        .map { case (k, g) => Row(k, g, "ownership") }
      owner ++ graft.auth.Privileges.listGrants
        .filter(_._4 == o)
        .map { case (k, g, a, _) => Row(k, g, a) }
    }
  }

  /** ALTER AUTH ENFORCE ON|OFF: flip analysis-time privilege checks. */
  case class AlterAuthCommand(on: Boolean) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.setEnforce(spark, on); Nil
    }
  }

  /** WLM queue DDL (reference `services/resourcescheduler` queue config —
    * `BasicResourceConstants.java:32` timeout, slot-bounded admission). */
  case class CreateQueueCommand(name: String, slots: Int, timeoutMs: Option[Long])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("queue")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.engine.Queues.define(name, slots,
        timeoutMs.getOrElse(5L * 60 * 1000))
      Seq(Row(name))
    }
  }

  /** ALTER QUEUE (reference SqlAlterEngine — resize): redefine an EXISTING
    * queue's slot band; in-flight queries keep their granted slots. An
    * omitted TIMEOUT keeps the queue's current timeout and pool — ALTER
    * changes only what the statement names. */
  case class AlterQueueCommand(name: String, slots: Int, timeoutMs: Option[Long])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("queue", "slots")
    override def run(spark: SparkSession): Seq[Row] = {
      val cur = graft.engine.Queues.definition(name).getOrElse(
        throw new IllegalArgumentException(
          s"unknown queue: $name (ALTER resizes; use CREATE QUEUE)"))
      graft.engine.Queues.define(name, slots,
        timeoutMs.getOrElse(cur.timeoutMs), cur.pool)
      Seq(Row(name, slots.toString))
    }
  }

  /** COMPACT MATERIALIZATION (reference SqlCompactMaterialization). */
  case class CompactMaterializationCommand(name: String, numFiles: Int,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val n = graft.accel.Reflections.compact(spark, name, numFiles)
      Seq(Row(name, n.toString))
    }
  }

  case class DropQueueCommand(name: String) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.engine.Queues.drop(name); Seq.empty
    }
  }

  /** CREATE ROUTING RULE name PRIORITY n WHEN <bool-expr> ROUTE TO queue
    * (reference `RuleBasedEngineSelector.java:22` — rules against the
    * query context select the engine; see Queues.route for the context
    * columns a condition may use). Admin-gated while auth enforcement is
    * on — routing is an operator-level control. */
  case class CreateRoutingRuleCommand(name: String, priority: Int,
      cond: String, queue: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("rule", "queue")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAdmin(spark, "CREATE ROUTING RULE")
      graft.engine.Queues.defineRule(spark, name, priority, cond, queue)
      Seq(Row(name.toLowerCase, queue))
    }
  }

  case class DropRoutingRuleCommand(name: String) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAdmin(spark, "DROP ROUTING RULE")
      graft.engine.Queues.dropRule(name); Seq.empty
    }
  }

  case class ShowRoutingRulesCommand(override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      graft.engine.Queues.listRules.map(r =>
        Row(r.name, r.priority.toString, r.cond, r.queue))
  }

  case class ShowQueuesCommand(override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      graft.engine.Queues.status.map(q => Row(q.name, q.slots.toString,
        q.pool, q.running.toString, q.queued.toString,
        q.admitted.toString, q.timedOut.toString))
  }

  /** ALTER ENGINE <name> SET (MIN_REPLICAS = n, MAX_REPLICAS = m)
    * (reference SqlAlterEngine, parserImpls.ftl:1877): parse the paren
    * body strictly — either key, either order, nothing else — then
    * resize the engine through [[graft.engine.Queues.alterEngine]]. */
  case class AlterEngineCommand(name: String, body: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val parts = if (body.trim.isEmpty) Nil else SqlGrammar.parseAll(body,
          "ALTER ENGINE SET (MIN_REPLICAS = <n> and/or MAX_REPLICAS = <n>)") { c =>
        c.commaList {
          val k = c.oneOf("MIN_REPLICAS", "MAX_REPLICAS").toUpperCase(java.util.Locale.ROOT)
          c.expectSym('='); k -> c.number().toInt
        }
      }
      require(parts.map(_._1).distinct.size == parts.size,
        "ALTER ENGINE: duplicate replica bound")
      val kv = parts.toMap
      val d = graft.engine.Queues.alterEngine(name,
        kv.get("MIN_REPLICAS"), kv.get("MAX_REPLICAS"))
      val slots = graft.engine.Queues.definition(name).map(_.slots).getOrElse(0)
      Seq(Row(d.name, d.minReplicas.toString, d.maxReplicas.toString,
        slots.toString))
    }
  }

  case class ShowEnginesCommand(override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      graft.engine.Queues.listEngines.map { e =>
        val slots = graft.engine.Queues.definition(e.name).map(_.slots).getOrElse(0)
        Row(e.name, e.minReplicas.toString, e.maxReplicas.toString,
          slots.toString)
      }
  }

  case class CreatePipeCommand(name: String, src: String, fmt: String,
      schemaDdl: String, target: String, checkpoint: String,
      sink: String = "parquet", mergeKey: Option[String] = None,
      notifyProvider: Option[String] = None, notifyQueue: Option[String] = None,
      lookbackDays: Option[Int] = None,
      expectations: Seq[graft.streaming.PipeExpectation] = Nil)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("pipe")
    override def run(spark: SparkSession): Seq[Row] = {
      // an unknown provider refuses at CREATE (caller typo), not at the
      // first TRIGGER hours later; recognized-but-unwired cloud providers
      // are accepted here and refuse at TRIGGER (the environment seam)
      notifyProvider.foreach(p => require(
        graft.streaming.Notifications.recognized(p),
        s"unknown NOTIFICATION_PROVIDER '$p' (have: " +
          graft.streaming.Notifications.RecognizedProviders.toSeq.sorted
            .mkString(", ") + ")"))
      if (notifyProvider.isDefined)
        require(notifyQueue.isDefined,
          "NOTIFICATION_PROVIDER needs NOTIFICATION_QUEUE_REFERENCE")
      // the lookback trims the NOTIFIED loaded-files log; a listing
      // pipe's Spark file-source log has no loss-free equivalent
      // (maxFileAge silently skips old-mtime backfills), so refuse
      // rather than quietly meaning something different
      if (lookbackDays.isDefined)
        require(notifyProvider.isDefined,
          "DEDUPE_LOOKBACK_PERIOD applies to NOTIFICATION_PROVIDER pipes " +
            "(listing pipes dedup through the stream checkpoint, unbounded)")
      // FORMAT WARC pipes produce one of two fixed row shapes — the WET
      // text view (pre-extracted text) or the charset-decoded HTTP text
      // view (raw crawl responses; land HTML, extract downstream) — and
      // only the notified trigger path can read either (web archives
      // arrive as drop events; the listing path is a Spark file-stream
      // with no WARC source). Refuse at CREATE, not at the first TRIGGER.
      if (fmt == "warc") {
        require(notifyProvider.isDefined,
          "FORMAT WARC pipes must declare a NOTIFICATION_PROVIDER")
        // resolve through the ONE schema→view mapping the trigger-time
        // reader also uses (WarcFiles.viewFor) — the two sites can't drift
        require(graft.sources.WarcFiles.viewFor(StructType.fromDDL(schemaDdl)).isDefined,
          "FORMAT WARC pipes produce the WET text shape " +
            s"(${graft.sources.WarcFiles.textSchema.toDDL}) or the HTTP " +
            s"text shape (${graft.sources.WarcFiles.httpTextSchema.toDDL})")
      }
      // lake-source pipes carry no DDL: the source table's schema IS the
      // schema (resolved at trigger time from its snapshot)
      val schema =
        if (schemaDdl.isEmpty) new StructType() else StructType.fromDDL(schemaDdl)
      // EXPECT validation at CREATE, not at the first TRIGGER hours
      // later: actions must be known and every predicate must RESOLVE
      // against the declared schema (a typo'd column refuses here)
      expectations.foreach { e =>
        graft.operators.Expectations.Rule(e.name,
          org.apache.spark.sql.functions.expr(e.predicateSql), e.action)
        val probe = spark.createDataFrame(
          new java.util.ArrayList[Row](), schema)
        try probe.filter(org.apache.spark.sql.functions.expr(e.predicateSql))
          .queryExecution.analyzed
        catch { case ex: Exception => throw new IllegalArgumentException(
          s"EXPECT ${e.name}: predicate does not resolve against the " +
            s"pipe schema: ${ex.getMessage}") }
      }
      require(expectations.map(_.name).distinct.size == expectations.size,
        "EXPECT rule names must be unique")
      if (expectations.nonEmpty) {
        val reserved = graft.operators.Expectations.ReservedColumns ++
          Set("pipe", "quarantined_at_ms")
        val clash = schema.fieldNames.toSet.intersect(reserved)
        require(clash.isEmpty,
          s"EXPECT: schema columns ${clash.mkString(", ")} collide with the " +
            "quarantine metadata columns — rename them")
      }
      Pipes.define(Pipe(name, src, fmt, schema, target, checkpoint, sink,
        mergeKey, notificationProvider = notifyProvider.map(
          _.toUpperCase(java.util.Locale.ROOT)),
        notificationQueue = notifyQueue,
        dedupeLookbackDays = lookbackDays,
        expectations = expectations))
      Seq(Row(name))
    }
  }

  case class TriggerPipeCommand(name: String, forBatch: Option[Long] = None)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("pipe", "rows_loaded")
    override def run(spark: SparkSession): Seq[Row] = {
      val pipe = Pipes.get(name).getOrElse(
        throw new IllegalArgumentException(s"unknown pipe: $name"))
      require(!pipe.paused,
        s"pipe '$name' is paused (PIPE_EXECUTION_RUNNING = FALSE); " +
          s"resume with ALTER PIPE $name SET PIPE_EXECUTION_RUNNING = TRUE")
      forBatch.foreach { gen =>
        return Seq(Row(name, Pipes.triggerForBatch(spark, pipe, gen).toString))
      }
      // rows loaded by this trigger, from stream progress — not an O(target)
      // recount of the whole pipe table
      val loaded = (pipe.format, pipe.sink) match {
        case _ if pipe.notificationProvider.isDefined =>
          // event-driven: load exactly the notified files, no listing
          Pipes.triggerNotified(spark, pipe)
        case ("lakesource", _) => Pipes.triggerFromLake(spark, pipe)
        case (_, "merge") => Pipes.triggerMergeIntoLake(spark, pipe, pipe.mergeKey.get)
        case (_, "lake")  => Pipes.triggerIntoLake(spark, pipe)
        case _            => Pipes.trigger(spark, pipe)
      }
      Seq(Row(name, loaded.toString))
    }
  }

  case class ShowPipesCommand(override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      Pipes.list.map(p => Row(p.name, p.sourceDir, p.format, p.targetDir))
  }

  /** SHOW STREAMS: every active Structured Streaming query on the shared
    * context with its latest progress — the SQL verb face of
    * `sys_streams`, selected FROM the same relation so the two can never
    * drift. */
  case class ShowStreamsCommand(override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      graft.catalog.InfoSchema.sysStreams(spark)
        .collect().toSeq.map { r =>
          Row(r.getAs[String]("id"), r.getAs[String]("name"),
            r.getAs[Long]("batch_id").toString,
            r.getAs[Long]("num_input_rows").toString,
            r.getAs[String]("status"))
        }
  }

  /** EXPLAIN JSON [phase] FOR <query> (reference SqlExplainJson,
    * explainjson.ftl): machine-readable plan at a named planner phase.
    * Phases map onto Spark's QueryExecution stages: `parsed`, `analyzed`,
    * `optimized` (logical, post-Catalyst), `physical` (executed plan,
    * default — the reference's default is likewise the final phase). */
  case class ExplainJsonCommand(phase: String, querySql: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val qe = spark.sql(querySql).queryExecution
      val json = phase match {
        case "parsed" => qe.logical.toJSON
        case "analyzed" => qe.analyzed.toJSON
        case "optimized" | "logical" => qe.optimizedPlan.toJSON
        case "physical" => qe.executedPlan.toJSON
        case other => throw new IllegalArgumentException(
          s"EXPLAIN JSON: unknown phase '$other' " +
            "(have: parsed, analyzed, optimized, physical)")
      }
      Seq(Row(phase, json))
    }
  }

  /** CREATE/DROP FOLDER (SqlCreateFolder/SqlDropFolder): catalog
    * organization — a namespace in the session catalog. */
  case class FolderCommand(name: String, create: Boolean, ifClause: Boolean,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val guard =
        if (!ifClause) ""
        else if (create) "IF NOT EXISTS " else "IF EXISTS "
      if (create) spark.sql(s"CREATE NAMESPACE $guard$name")
      else spark.sql(s"DROP NAMESPACE $guard$name")
      Seq(Row(name))
    }
  }

  /** ALTER PIPE ... SET PIPE_EXECUTION_RUNNING (SqlAlterPipeStatus). */
  case class AlterPipeStatusCommand(name: String, running: Boolean)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("pipe", "running")
    override def run(spark: SparkSession): Seq[Row] = {
      val p = Pipes.setRunning(name, running)
      Seq(Row(p.name, (!p.paused).toString))
    }
  }

  /** ALTER PIPE redefinition (SqlAlterPipe): CREATE PIPE grammar tail on
    * an EXISTING pipe; the paused flag survives. */
  case class AlterPipeDefCommand(create: CreatePipeCommand)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("pipe")
    override def run(spark: SparkSession): Seq[Row] = {
      val old = Pipes.get(create.name).getOrElse(
        throw new IllegalArgumentException(
          s"unknown pipe: ${create.name} (ALTER redefines; use CREATE PIPE)"))
      create.run(spark)
      if (old.paused) Pipes.setRunning(create.name, running = false)
      Seq(Row(create.name))
    }
  }

  /** DROP PIPE [IF EXISTS] (SqlDropPipe). */
  case class DropPipeCommand(name: String, ifExists: Boolean)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("pipe")
    override def run(spark: SparkSession): Seq[Row] = {
      if (Pipes.get(name).isEmpty && !ifExists)
        throw new IllegalArgumentException(s"unknown pipe: $name")
      Pipes.drop(name)
      Seq(Row(name))
    }
  }

  /** DESCRIBE PIPE (SqlDescribePipe). */
  case class DescribePipeCommand(name: String, override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val p = Pipes.get(name).getOrElse(
        throw new IllegalArgumentException(s"unknown pipe: $name"))
      Seq(Row(p.name, p.sourceDir, p.format, p.targetDir, p.checkpointDir,
        p.sink, p.mergeKey.orNull, (!p.paused).toString,
        p.notificationProvider.map(pr =>
          s"$pr:${p.notificationQueue.getOrElse("")}").orNull,
        p.dedupeLookbackDays.map(_.toString).orNull,
        if (p.expectations.isEmpty) null
        else p.expectations.map(e =>
          s"${e.name} AS (${e.predicateSql}) ON VIOLATION ${e.action.toUpperCase}")
          .mkString("; ")))
    }
  }

  /** USE BRANCH|TAG ... IN LAKE (SqlUseVersion): pin the session's default
    * ref for the table. `USE BRANCH main` restores the default head (main
    * is the implicit trunk, as in Nessie). */
  case class UseRefCommand(refType: String, name: String, dir: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      if (refType == "branch" && name.equalsIgnoreCase("main")) {
        graft.sources.SessionRefs.clear(spark, dir)
        Seq(Row("main", "branch", t.latestVersion.toString))
      } else {
        val ref = t.getRef(name)
        require(ref.refType == refType,
          s"'$name' is a ${ref.refType}, not a $refType")
        graft.auth.Privileges.requireRefUsage(spark, dir, refType, name,
          s"USE ${refType.toUpperCase(java.util.Locale.ROOT)}")
        graft.sources.SessionRefs.set(spark, dir, name)
        Seq(Row(ref.name, ref.refType, ref.baseVersion.toString))
      }
    }
  }

  /** USE VERSION ... IN LAKE (reference USE COMMIT): pin the session's
    * reads at a fixed version — immutable, like an anonymous tag. */
  case class UseVersionCommand(version: Long, dir: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      require(version >= 1 && version <= t.latestVersion,
        s"USE VERSION $version: out of range [1, ${t.latestVersion}] in $dir")
      graft.sources.SessionRefs.setVersion(spark, dir, version)
      Seq(Row(s"v$version", "version", version.toString))
    }
  }

  /** USE DEFAULT IN LAKE: drop the session ref pin. */
  case class UseDefaultCommand(dir: String, override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.sources.SessionRefs.clear(spark, dir)
      Seq(Row("main", "branch",
        graft.sources.SnapshotTable.forPath(spark, dir).latestVersion.toString))
    }
  }

  /** SHOW LOGS [AT BRANCH|TAG ...] IN LAKE (SqlShowLogs): the commit log
    * of main, an explicit ref, or the session ref when one is pinned. */
  case class ShowLogsCommand(refType: Option[String], refName: Option[String],
      dir: String, override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      refName.foreach { n =>
        val ref = t.getRef(n)
        require(refType.forall(_ == ref.refType),
          s"'$n' is a ${ref.refType}, not a ${refType.getOrElse("")}")
      }
      // explicit AT wins; else the session pin (a version pin shows the
      // log prefix up to that version — the commit-id view of USE COMMIT)
      val commits = refName match {
        case Some(_) => t.log(refName)
        case None => graft.sources.SessionRefs.pin(spark, dir) match {
          case Some(Left(v)) => t.log(None).filter(_.version <= v)
          case Some(Right(ref)) => t.log(Some(ref))
          case None => t.log(None)
        }
      }
      commits.map(c => Row(c.version.toString, c.action,
        c.timestampMs.toString, c.files.size.toString, c.tag))
    }
  }

  /** SHOW FILES IN LAKE (SqlShowFiles): live data files with manifest
    * stats — the statement form of the lake_files TVF. */
  case class ShowFilesLakeCommand(dir: String, override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      // a session USE VERSION pin shows that snapshot's files (ref pins
      // list the head here — branch file listings ride lake_files)
      val pinnedVersion = graft.sources.SessionRefs.pin(spark, dir)
        .collect { case Left(v) => v }
      val (files, _) = t.snapshotWithStats(version = pinnedVersion)
      files.map { case (path, st) =>
        Row(path,
          st.get(graft.sources.SnapshotTable.BytesStatKey).map(_._1).orNull,
          st.get(graft.sources.SnapshotTable.RowsStatKey).map(_._1).orNull)
      }
    }
  }

  /** TRUNCATE LAKE (SqlTruncateTable): delete every row as one atomic
    * copy-on-write commit; history and time travel stay intact. */
  case class TruncateLakeCommand(dir: String, override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "delete", dir, "TRUNCATE LAKE")
      graft.sources.SessionRefs.requireDefault(spark, dir, "TRUNCATE LAKE")
      val v = graft.sources.SnapshotTable.forPath(spark, dir)
        .deleteWhere(org.apache.spark.sql.functions.lit(true))
      Seq(Row(v.toString))
    }
  }

  /** DESCRIBE LAKE: the snapshot history of a graft-lake table (the
    * Iceberg `snapshots` metadata-table / Delta DESCRIBE HISTORY analog). */
  case class DescribeLakeCommand(dir: String, override val output: Seq[Attribute],
      ref: Option[String] = None) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      // AT BRANCH|TAG describes the REF's visible log (fork prefix +
      // staged commits for a branch, the pinned prefix for a tag) — the
      // reference's version-context DESCRIBE
      graft.sources.SnapshotTable.forPath(spark, dir).log(ref).map(c =>
        Row(c.version.toString, c.action, c.timestampMs.toString,
          c.files.size.toString, c.partitionSpec.mkString(", ")))
  }

  /** CREATE LAKE VIEW: register a (possibly time-traveled) snapshot of a
    * graft-lake table as a temp view for plain-SQL querying. */
  /** ADD/DROP PRIMARY KEY (empty cols = DROP): informational metadata,
    * never enforced — the reference's contract; consumed by Flight SQL
    * GetPrimaryKeys and SHOW CREATE LAKE. */
  case class AlterLakePkCommand(dir: String, cols: Seq[String],
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      if (cols.isEmpty) t.dropPrimaryKey() else t.setPrimaryKey(cols)
      Seq(Row(dir, t.primaryKey.mkString(",")))
    }
  }

  /** ALTER LAKE ... ROUTE ALL REFLECTIONS TO [DEFAULT] QUEUE|ENGINE [q]
    * (reference SqlAlterDatasetReflectionRouting): refresh statements for
    * this dataset's reflections admit into the named queue, overriding
    * the global `spark.graft.queue.reflection`; DEFAULT clears the
    * override. QUEUE and ENGINE share a namespace (see AlterEngine). */
  case class RouteReflectionsCommand(dir: String, isDefault: Boolean,
      queue: Option[String], override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      if (isDefault) {
        require(queue.isEmpty, "ROUTE REFLECTIONS: DEFAULT takes no name")
        graft.accel.Reflections.setRouting(dir, None)
        Seq(Row(dir, "DEFAULT"))
      } else {
        val q = queue.getOrElse(throw new IllegalArgumentException(
          "ROUTE REFLECTIONS TO QUEUE|ENGINE needs a name (or DEFAULT)"))
        require(graft.engine.Queues.defined(q),
          s"ROUTE REFLECTIONS: no such queue/engine '$q'")
        graft.accel.Reflections.setRouting(dir, Some(q))
        Seq(Row(dir, q))
      }
    }
  }

  /** ALTER LAKE ... CHANGE COLUMN old new type (reference
    * SqlAlterTableChangeColumn — rename and retype in one statement,
    * composing the id-stable rename with a widening-only type promotion;
    * both halves are metadata-only commits). */
  case class ChangeLakeColumnCommand(dir: String, oldName: String,
      newName: String, typeDdl: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "ALTER LAKE CHANGE")
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      val rename = !oldName.equalsIgnoreCase(newName)
      // pre-validate the rename target BEFORE the retype commit publishes,
      // so a doomed statement leaves no half-applied state behind
      if (rename) {
        val names = t.read().schema.fieldNames
        require(!names.exists(_.equalsIgnoreCase(newName)),
          s"CHANGE COLUMN: '$newName' already exists in $dir")
      }
      t.changeColumnType(oldName, typeDdl)
      if (rename) t.renameColumn(oldName, newName)
      Seq(Row(newName, typeDdl.trim))
    }
  }

  /** ALTER LAKE ... CLUSTER BY (c1, c2) / DROP CLUSTERING KEY (reference
    * SqlAlterTableClusterKey + AlterTableClusterKeyHandler): clustering
    * keys are declared as the table's sticky SORT ORDER plus a marker
    * table property, and a keyless OPTIMIZE then rewrites the data
    * clustered (Z-order for ≥2 keys — every key's per-file range stays
    * narrow, so manifest pruning serves predicates on ANY clustered
    * column at 100 TB; lexicographic for one key). The reference's
    * preconditions apply: only non-partitioned tables (partition pruning
    * and clustering would fight over file layout), and a table with a
    * manually declared sort order refuses until that order is dropped —
    * CLUSTER BY owns the sort-order slot while the marker is set. */
  case class ClusterKeyCommand(dir: String, cols: Seq[String],
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "ALTER LAKE CLUSTER")
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      val clustered = t.properties.get(ClusteringProp).exists(_.toBoolean)
      if (cols.isEmpty) {
        require(clustered,
          s"DROP CLUSTERING KEY: lake '$dir' has no clustering key defined")
        t.setSortOrder(Nil)
        t.unsetProperties(Seq(ClusteringProp))
        Seq(Row(dir, "DROPPED"))
      } else {
        val (spec, _, sortBy) = t.effectiveLayout
        require(spec.isEmpty,
          s"CLUSTER BY: lake '$dir' is partitioned — clustering keys apply " +
            "only to non-partitioned tables (drop the partition spec first)")
        require(clustered || sortBy.isEmpty,
          s"CLUSTER BY: lake '$dir' has a sort order already defined — " +
            "unset it (SET SORT ORDER ()) before declaring clustering keys")
        t.setSortOrder(cols) // validates the columns against the schema
        if (!clustered) t.setProperties(Map(ClusteringProp -> "true"))
        Seq(Row(dir, cols.mkString(",")))
      }
    }
  }

  /** SHOW CREATE [LAKE] VIEW <name> (reference SqlShowCreate's VIEW arm):
    * print the stored definition of a lake view — including its version
    * or branch/tag pin — from the registry CREATE populated. */
  case class ShowCreateViewCommand(name: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val ddl = graft.catalog.LakeViews.ddlOf(name).getOrElse(
        throw new IllegalArgumentException(
          s"SHOW CREATE VIEW: no lake view named '$name'"))
      Seq(Row(name, ddl))
    }
  }

  case class CreateLakeViewCommand(name: String, dir: String, version: Option[Long],
      asOfTsMs: Option[Long] = None) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("view", "version")
    override def run(spark: SparkSession): Seq[Row] = {
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      t.read(version, asOfTsMs).createOrReplaceTempView(name)
      // name → dir registry: table-level metadata surfaces (Flight SQL
      // GetPrimaryKeys, SHOW CREATE VIEW) resolve the backing table
      val pin = version.map(v => s" VERSION AS OF $v")
        .orElse(asOfTsMs.map(ts =>
          s" TIMESTAMP AS OF '${new java.sql.Timestamp(ts)}'"))
        .getOrElse("")
      graft.catalog.LakeViews.register(name, dir,
        s"CREATE LAKE VIEW $name FROM '$dir'$pin")
      Seq(Row(name, version.getOrElse(t.latestVersion).toString))
    }
  }

  /** CREATE LAKE ... AS: CTAS into a fresh graft-lake table, optionally
    * partitioned by Iceberg-style transforms and/or recording min/max
    * stats columns (reference: Iceberg CTAS with PARTITION BY transforms,
    * `Parser.tdd` SqlCreateTable + partition transform list). */
  case class CreateLakeTableCommand(dir: String, spec: Seq[String],
      statsCols: Seq[String], sortBy: Seq[String],
      querySql: String, clusterBy: Seq[String] = Nil,
      distributeBy: Seq[String] = Nil, singleWriter: Boolean = false)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version", "n_files")
    override def run(spark: SparkSession): Seq[Row] = {
      // CTAS-time clustering keys (reference SqlCreateTable's CLUSTER BY
      // slot): same rules as ALTER — exclusive with partitioning and an
      // explicit sort order; keys land in the sort-order slot + marker
      require(clusterBy.isEmpty || (spec.isEmpty && sortBy.isEmpty),
        "CREATE LAKE: CLUSTER BY excludes PARTITION BY and SORT BY")
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      require(t.latestVersion == 0L,
        s"CREATE LAKE target '$dir' already has commits (use MERGE/OPTIMIZE/appends)")
      // write-shape knobs (reference SqlCreateTable): DISTRIBUTE BY
      // hash-clusters rows across writers without partition directories
      // (one file per key-cluster, skew-resistant); WITH SINGLE WRITER
      // funnels the write through one task (small dims, ordered output)
      val src0 = spark.sql(querySql)
      val src =
        if (singleWriter) src0.coalesce(1)
        else if (distributeBy.nonEmpty)
          src0.repartition(distributeBy.map(org.apache.spark.sql.functions.col): _*)
        else src0
      val v = t.overwritePartitioned(src, spec, statsCols,
        if (clusterBy.nonEmpty) clusterBy else sortBy)
      if (clusterBy.nonEmpty) t.setProperties(Map(ClusteringProp -> "true"))
      Seq(Row(v.toString, t.snapshot()._1.size.toString))
    }
  }

  /** OPTIMIZE LAKE: compaction as one conflict-checked overwrite commit —
    * plain rewrite into N files, range-clustered + sorted when ORDER BY is
    * given (Iceberg rewrite_data_files with sort order), or Z-order
    * clustered when ZORDER BY (a, b, ...) is given (multi-dimensional
    * locality — every clustered column prunes). Stats on the cluster
    * columns start being recorded so pruning improves afterwards. */
  /** SHOW CREATE LAKE: the table's current definition — column DDL (from
    * the head commit's schema), effective sticky layout (partition
    * transforms + stats columns), and head version (the reference's SHOW
    * CREATE surface over versioned tables). */
  case class ShowCreateLakeCommand(dir: String,
                                   override val output: Seq[Attribute],
                                   ref: Option[String] = None)
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      val cs = t.log(ref)
      require(cs.nonEmpty,
        s"empty lake table $dir${ref.map(r => s" at ref $r").getOrElse("")}")
      // ONE log read serves both the head row and the layout: a second
      // read could see a concurrent commit and report a torn definition
      val (spec, statsCols, sortBy) = t.effectiveLayoutOfCommits(cs)
      // declared (informational) primary key as of the shown ref
      val pk = cs.reverseIterator.collectFirst {
        case c if c.tableProps.isDefined => c.tableProps.get
      }.getOrElse(Map.empty)
        .getOrElse(graft.sources.SnapshotTable.PkPropKey, "")
      Seq(Row(cs.last.schemaDdl, spec.mkString(", "),
        statsCols.mkString(", "), sortBy.mkString(", "), pk,
        cs.last.version.toString))
    }
  }

  /** EXPORT LAKE ... TO: write the snapshot as an engine-neutral tree —
    * plain (optionally hive-partitioned) parquet under data/ plus an
    * Iceberg v2 metadata tree (LakeExport scaladoc; reference
    * `exec/store/iceberg/`). */
  case class ExportLakeCommand(src: String, dst: String, version: Option[Long],
      partitionBy: Seq[String], format: String = "ICEBERG",
      append: Boolean = false)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version", "n_files", "n_rows")
    override def run(spark: SparkSession): Seq[Row] = format match {
      case "DELTA" =>
        require(!append, "EXPORT LAKE ... FORMAT DELTA APPEND is not supported " +
          "(the Delta bridge publishes single-commit tables)")
        val r = graft.sources.DeltaInterop.exportTo(spark, src, dst, version, partitionBy)
        Seq(Row(r.version.toString, r.nFiles.toString, r.nRows.toString))
      case _ =>
        val r =
          if (append) graft.sources.LakeExport.appendTo(spark, src, dst, version, partitionBy)
          else graft.sources.LakeExport.exportTo(spark, src, dst, version, partitionBy)
        Seq(Row(r.version.toString, r.nFiles.toString, r.nRows.toString))
    }
  }

  /** VACUUM LAKE: expire history to the last `retain` versions — or, with
    * OLDER_THAN, to every commit at/after the timestamp with `retain` as
    * the floor (reference SqlVacuumTable's expire-snapshots options) —
    * and delete data files no retained snapshot (or ref) references. */
  case class VacuumLakeCommand(dir: String, retain: Int, graceMs: Long,
                               olderThanMs: Option[Long] = None)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("n_deleted")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "VACUUM LAKE")
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      val deleted = olderThanMs match {
        case Some(ts) => t.vacuumOlderThan(ts, retain, graceMs)
        case None => t.vacuum(retain, graceMs)
      }
      Seq(Row(deleted.size.toString))
    }
  }

  /** VACUUM LAKE ... REMOVE ORPHAN FILES (reference SqlVacuumTable's
    * REMOVE ORPHAN FILES branch): sweep unreferenced files WITHOUT
    * expiring snapshots — complementary to the EXPIRE-style VACUUM LAKE.
    * OLDER_THAN defaults to 3 days ago (the Iceberg remove_orphan_files
    * default), protecting in-flight writers' staged files. */
  case class RemoveOrphanFilesCommand(dir: String, olderThanMs: Option[Long],
                                      location: Option[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("n_deleted")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir,
        "VACUUM LAKE REMOVE ORPHAN FILES")
      val cutoff = olderThanMs.getOrElse(
        System.currentTimeMillis() - 3L * 24 * 3600 * 1000)
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      Seq(Row(t.removeOrphanFiles(cutoff, location).size.toString))
    }
  }

  /** VACUUM CATALOG (reference SqlVacuumCatalog): sweep EVERY graft-lake
    * table under the root — same expiry options as VACUUM LAKE applied
    * per table. ALTER is checked for every table BEFORE any deletion so
    * an authorization failure can't leave the catalog half-vacuumed. */
  case class VacuumCatalogCommand(root: String, retain: Int, graceMs: Long,
                                  olderThanMs: Option[Long],
                                  override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      val tables = graft.sources.SnapshotTable.findLakeTables(root).sorted
      require(tables.nonEmpty,
        s"VACUUM CATALOG: no lake tables under: $root")
      tables.foreach(t =>
        graft.auth.Privileges.requireAction(spark, "alter", t, "VACUUM CATALOG"))
      tables.map { dir =>
        val t = graft.sources.SnapshotTable.forPath(spark, dir)
        val deleted = olderThanMs match {
          case Some(ts) => t.vacuumOlderThan(ts, retain, graceMs)
          case None => t.vacuum(retain, graceMs)
        }
        Row(dir, deleted.size.toString)
      }
    }
  }

  /** OPTIMIZE LAKE ... REWRITE MANIFESTS: metadata-only checkpoint of the
    * commit log at the head (zero data files move). */
  case class RewriteManifestsCommand(dir: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "OPTIMIZE LAKE")
      Seq(Row(graft.sources.SnapshotTable.forPath(spark, dir)
        .rewriteManifests().toString))
    }
  }

  /** OPTIMIZE LAKE ... REWRITE DATA [USING BIN_PACK]
    * [FOR PARTITIONS (<cond>)] [(MIN_INPUT_FILES = n,
    * TARGET_FILE_SIZE_MB = t, MIN_FILE_SIZE_MB = a, MAX_FILE_SIZE_MB = b)]
    * (reference SqlOptimize + ParseOptimizeOptions): size-banded bin-pack
    * — only unhealthy files rewrite, sized from manifest bytes; defaults
    * follow the Iceberg rewrite action (target 256 MB, min 0.75×target,
    * max 1.8×target, 5 input files). FOR PARTITIONS routes to the
    * predicate-scoped partial compaction; combining it with size options
    * refuses (pick one selection rule per statement). */
  case class OptimizeRewriteDataCommand(dir: String, cond: Option[String],
      optsText: String, override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "OPTIMIZE LAKE")
      val kv = (if (optsText.trim.isEmpty) Nil else SqlGrammar.parseAll(optsText,
          "OPTIMIZE ... REWRITE DATA (<option> = <n>, ...)") { c =>
        c.commaList { val k = c.word().toLowerCase; c.expectSym('='); k -> c.number() }
      }).toMap
      val unknown = kv.keySet -- Set("min_input_files", "target_file_size_mb",
        "min_file_size_mb", "max_file_size_mb")
      require(unknown.isEmpty, s"OPTIMIZE: unknown options $unknown " +
        "(valid: MIN_INPUT_FILES, TARGET_FILE_SIZE_MB, MIN_FILE_SIZE_MB, " +
        "MAX_FILE_SIZE_MB)")
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      val v = cond match {
        case Some(c) =>
          require(kv.isEmpty,
            "OPTIMIZE: FOR PARTITIONS and size options are mutually " +
              "exclusive — one selection rule per statement")
          t.compactWhere(org.apache.spark.sql.functions.expr(c))
        case None =>
          val mb = 1024L * 1024
          val target = kv.getOrElse("target_file_size_mb", 256L) * mb
          t.compactBySize(
            minFileBytes = kv.get("min_file_size_mb").map(_ * mb)
              .getOrElse(target * 3 / 4),
            maxFileBytes = kv.get("max_file_size_mb").map(_ * mb)
              .getOrElse(target * 9 / 5),
            targetFileBytes = target,
            minInputFiles = kv.getOrElse("min_input_files", 5L).toInt)
      }
      Seq(Row(v.toString))
    }
  }

  case class OptimizeLakeCommand(dir: String, orderBy: Seq[String],
                                 zorderBy: Seq[String], nFiles: Int,
                                 whereSql: Option[String] = None)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version", "n_files")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "OPTIMIZE LAKE")
      require(orderBy.isEmpty || zorderBy.isEmpty,
        "OPTIMIZE LAKE takes ORDER BY or ZORDER BY, not both")
      require(whereSql.isEmpty || (orderBy.isEmpty && zorderBy.isEmpty),
        "OPTIMIZE LAKE ... WHERE is plain compaction (no ORDER/ZORDER BY)")
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      // declared clustering keys (ALTER ... CLUSTER BY) make a keyless
      // OPTIMIZE rewrite clustered — the reference's auto-clustering
      // contract: the clustering columns live in the sort-order slot
      val clusterKeys =
        if (orderBy.isEmpty && zorderBy.isEmpty && whereSql.isEmpty &&
            t.properties.get(ClusteringProp).exists(_.toBoolean))
          t.effectiveLayout._3
        else Nil
      val v =
        if (zorderBy.nonEmpty) t.compactZorder(zorderBy, nFiles)
        else if (orderBy.nonEmpty) t.compactSorted(orderBy, nFiles)
        else if (clusterKeys.size >= 2) t.compactZorder(clusterKeys, nFiles)
        else if (clusterKeys.size == 1) t.compactSorted(clusterKeys, nFiles)
        else whereSql match {
          case Some(w) => t.compactWhere(org.apache.spark.sql.functions.expr(w), nFiles)
          case None => t.compact(nFiles)
        }
      Seq(Row(v.toString, nFiles.toString))
    }
  }

  /** INSERT INTO LAKE: append as one atomic commit, inheriting the
    * table's EFFECTIVE layout — the latest declared partition transforms
    * and stats columns apply to the new batch, so SQL appends keep a
    * partitioned table partitioned even after a plain (layout-less) append
    * commit (sticky layout, Iceberg's write-spec model). */
  case class InsertLakeCommand(dir: String, querySql: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version", "n_files")
    override def run(spark: SparkSession): Seq[Row] = {
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      val df = spark.sql(querySql)
      // a session USE BRANCH pin routes the append to the branch (the
      // reference's Nessie session context); a tag or version pin
      // refuses — both are immutable. The privilege gate follows the
      // TARGET: main needs table-wide INSERT, a pinned branch also
      // accepts COMMIT on that branch (SqlGrantOnReference)
      graft.sources.SessionRefs.pin(spark, dir) match {
        case Some(Left(v)) =>
          throw new IllegalStateException(
            s"INSERT INTO LAKE: session is pinned to version $v — versions " +
              "are immutable; USE DEFAULT or USE BRANCH first")
        case Some(Right(ref)) =>
          require(t.getRef(ref).refType == "branch",
            s"INSERT INTO LAKE: session is pinned to tag '$ref' — tags are " +
              "immutable; USE DEFAULT or USE BRANCH first")
          graft.auth.Privileges.requireBranchAction(spark, "insert", dir, ref,
            "INSERT INTO LAKE")
          val v = graft.auth.Privileges.withStatementAuthorized(dir) {
            t.appendToBranch(ref, df)
          }
          val nFiles = t.log(Some(ref)).lastOption.map(_.files.size).getOrElse(0)
          Seq(Row(v.toString, nFiles.toString))
        case None =>
          graft.auth.Privileges.requireAction(spark, "insert", dir,
            "INSERT INTO LAKE")
          val (spec, statsCols, sortBy) = t.effectiveLayout
          val v = t.appendPartitioned(df, spec, statsCols, sortBy)
          // report the commit's file count, not a row count — a count()
          // here would re-execute the whole SELECT a second time
          val nFiles = t.commits.lastOption.map(_.files.size).getOrElse(0)
          Seq(Row(v.toString, nFiles.toString))
      }
    }
  }

  /** The session pin, resolved for row-level DML: None → apply to main;
    * Some(branch) → stage on the branch (the reference's Nessie branches
    * take full DML under USE BRANCH). A tag or USE VERSION pin refuses —
    * those are immutable views. */
  private def dmlBranchPin(spark: SparkSession, dir: String,
                           statement: String): Option[String] =
    graft.sources.SessionRefs.pin(spark, dir).map {
      case Left(v) => throw new IllegalStateException(
        s"$statement: session is pinned to VERSION $v for lake '$dir' — " +
          s"an immutable view; run USE DEFAULT IN LAKE '$dir' first")
      case Right(refName) =>
        val ref = graft.sources.SnapshotTable.forPath(spark, dir).getRef(refName)
        if (ref.refType != "branch") throw new IllegalStateException(
          s"$statement: session is pinned to tag '$refName' for lake '$dir' — " +
            s"tags are immutable; run USE DEFAULT IN LAKE '$dir' first")
        refName
    }

  /** ALTER <dataset> ENABLE|DISABLE RAW|AGGREGATE ACCELERATION (reference
    * SqlAccelToggle): opt the dataset's reflections of one kind out of
    * substitution without dropping them — raw = pass-through serving,
    * aggregate = roll-up serving. */
  case class AccelToggleCommand(dir: String, kind: String, enable: Boolean,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir,
        "ALTER ... ENABLE|DISABLE ACCELERATION")
      // the toggle anchors on reflection baseVersions, which only lake
      // sources record — a mistyped path or non-lake dataset would
      // "succeed" while substitution continued unchanged
      require(graft.sources.SnapshotTable.isLakeTable(dir),
        s"ENABLE|DISABLE ACCELERATION: '$dir' is not a lake table " +
          "(acceleration toggles anchor on lake datasets)")
      graft.accel.Reflections.setAccelToggle(dir, kind, enable)
      Seq(Row(dir, kind.toLowerCase, if (enable) "enabled" else "disabled"))
    }
  }

  /** EXPLAIN [PLAN FOR] DELETE|UPDATE ... LAKE (reference
    * SqlExplainQueryDML): the copy-on-write manifest analysis the real
    * statement would perform, reported instead of applied — metadata-only,
    * zero data files open. SELECT-gated (it reveals manifest shape, not
    * data). */
  case class ExplainLakeDmlCommand(dir: String, condSql: String, mode: String,
      atBranch: Option[String] = None,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "select", dir, "EXPLAIN LAKE DML")
      // the forecast must target what the STATEMENT would touch: explicit
      // AT BRANCH wins, else the session pin routes exactly like the real
      // DML (a tag/VERSION pin refuses here too — the statement would)
      val branch = atBranch.orElse(dmlBranchPin(spark, dir, s"EXPLAIN $mode"))
      val (total, rewrite, carried, rows, bytes, partial) =
        graft.sources.SnapshotTable.forPath(spark, dir)
          .explainDml(org.apache.spark.sql.functions.expr(condSql), branch)
      Seq(Row(mode, total.toString, rewrite.toString, carried.toString,
        rows.map(_.toString).getOrElse("unknown"),
        bytes.map(_.toString).getOrElse("unknown"),
        partial.toString))
    }
  }

  /** EXPLAIN [PLAN FOR] INSERT INTO LAKE: the append forecast — the
    * sticky layout the batch will land under (partition transforms,
    * stats/bloom columns, sort order), the optimizer's row estimate for
    * the source (no execution), and the version the commit would take.
    * Appends rewrite nothing, so there is no prune to report. */
  case class ExplainLakeInsertCommand(dir: String, querySql: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "select", dir, "EXPLAIN LAKE INSERT")
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      val (spec, statsCols, sortBy) = t.effectiveLayout
      // analyzed + optimized, never executed: the CBO row estimate is the
      // same number a real INSERT's planning would see
      val est = queryOnlyDf(spark, querySql, "EXPLAIN INSERT INTO LAKE")
        .queryExecution.optimizedPlan
        .stats.rowCount.map(_.toString).getOrElse("unknown")
      Seq(Row("append", spec.mkString(", "), statsCols.mkString(", "),
        sortBy.mkString(", "), est, (t.latestVersion + 1).toString))
    }
  }

  /** EXPLAIN [PLAN FOR] MERGE INTO LAKE ... ON k USING (...): the span
    * prune the real clause-MERGE would perform — the source's key
    * min/max (ONE small aggregate job, no writes) bounds the rewrite to
    * files whose key range intersects it. */
  case class ExplainLakeMergeCommand(dir: String, key: String, querySql: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "select", dir, "EXPLAIN LAKE MERGE")
      import org.apache.spark.sql.functions.{col, lit, max, min}
      val mm = queryOnlyDf(spark, querySql, "EXPLAIN MERGE INTO LAKE")
        .agg(min(col(key)).as("lo"), max(col(key)).as("hi")).head()
      val touch =
        if (mm.isNullAt(0)) lit(false) // no non-null keys: inserts only
        else col(key) >= lit(mm.get(0)) && col(key) <= lit(mm.get(1))
      val (total, rewrite, carried, rows, bytes, partial) =
        graft.sources.SnapshotTable.forPath(spark, dir).explainDml(touch)
      Seq(Row("copy-on-write merge (key span)", total.toString, rewrite.toString,
        carried.toString, rows.map(_.toString).getOrElse("unknown"),
        bytes.map(_.toString).getOrElse("unknown"), partial.toString))
    }
  }

  /** DELETE FROM LAKE: copy-on-write row deletion as one atomic commit —
    * on main, on an explicit `AT BRANCH`, or on the session's pinned
    * branch (statement-level AT wins, reference precedence). */
  case class DeleteLakeCommand(dir: String, condSql: String,
      atBranch: Option[String] = None) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      val cond = org.apache.spark.sql.functions.expr(condSql)
      // privilege follows the TARGET: a branch-staged delete also accepts
      // COMMIT on that branch (SqlGrantOnReference); main needs DELETE
      val v = atBranch.orElse(dmlBranchPin(spark, dir, "DELETE FROM LAKE")) match {
        case Some(branch) =>
          graft.auth.Privileges.requireBranchAction(spark, "delete", dir,
            branch, "DELETE FROM LAKE AT BRANCH")
          graft.auth.Privileges.withStatementAuthorized(dir) {
            t.deleteFromBranch(branch, cond)
          }
        case None =>
          graft.auth.Privileges.requireAction(spark, "delete", dir, "DELETE FROM LAKE")
          t.deleteWhere(cond)
      }
      Seq(Row(v.toString))
    }
  }

  /** UPDATE LAKE ... SET: copy-on-write update as one atomic commit —
    * on main, on an explicit `AT BRANCH`, or on the session's pinned
    * branch (statement-level AT wins, reference precedence). */
  case class UpdateLakeCommand(dir: String, setsSql: String, condSql: String,
      atBranch: Option[String] = None) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      val sets = SqlGrammar.parseAll(setsSql, "UPDATE LAKE ... SET <col> = <expr>, ...")(
        SqlGrammar.assignments(_))
        .map { case (c, e) => c -> org.apache.spark.sql.functions.expr(e) }.toMap
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      val cond = org.apache.spark.sql.functions.expr(condSql)
      val v = atBranch.orElse(dmlBranchPin(spark, dir, "UPDATE LAKE")) match {
        case Some(branch) =>
          graft.auth.Privileges.requireBranchAction(spark, "update", dir,
            branch, "UPDATE LAKE AT BRANCH")
          graft.auth.Privileges.withStatementAuthorized(dir) {
            t.updateBranchWhere(branch, cond, sets)
          }
        case None =>
          graft.auth.Privileges.requireAction(spark, "update", dir, "UPDATE LAKE")
          t.updateWhere(cond, sets)
      }
      Seq(Row(v.toString))
    }
  }

  /** MERGE INTO LAKE ... KEY ... USING: key-based upsert as one atomic
    * conflict-checked commit (reference MERGE grammar `Parser.tdd:624`;
    * the engine-side shape is SnapshotTable.mergeByKey's copy-on-write). */
  case class MergeLakeCommand(dir: String, key: String, querySql: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "update", dir, "MERGE INTO LAKE")
      graft.sources.SessionRefs.requireDefault(spark, dir, "MERGE INTO LAKE")
      val v = graft.sources.SnapshotTable.forPath(spark, dir)
        .mergeByKey(spark.sql(querySql), key)
      Seq(Row(v.toString))
    }
  }

  /** MERGE INTO LAKE ... ON ... USING (...) WHEN ...: ANSI clause MERGE
    * as one atomic conflict-checked commit (reference SqlMergeIntoTable /
    * Iceberg copy-on-write MERGE; engine shape is SnapshotTable.merge's
    * partial rewrite over the delta key span). */
  case class MergeLakeClausesCommand(dir: String, key: String, querySql: String,
      matched: Seq[graft.sources.SnapshotTable.WhenMatched],
      notMatched: Option[graft.sources.SnapshotTable.WhenNotMatched])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "update", dir, "MERGE INTO LAKE")
      graft.sources.SessionRefs.requireDefault(spark, dir, "MERGE INTO LAKE")
      val v = graft.sources.SnapshotTable.forPath(spark, dir)
        .merge(spark.sql(querySql), key, matched, notMatched)
      Seq(Row(v.toString))
    }
  }

  /** CREATE LAKE CHANGES VIEW: register the row-level change feed between
    * two versions as a temp view (SnapshotTable.changesBetween — Delta CDF
    * / Iceberg changelog-scan surface). */
  case class LakeChangesViewCommand(name: String, dir: String, fromV: Long, toV: Long)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("view", "from_version", "to_version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.sources.SnapshotTable.forPath(spark, dir)
        .changesBetween(fromV, toV).createOrReplaceTempView(name)
      Seq(Row(name, fromV.toString, toV.toString))
    }
  }

  /** CREATE BRANCH / CREATE TAG ... FROM LAKE (reference
    * `versionSupport.ftl:126` SqlCreateBranch/SqlCreateTag). */
  case class CreateRefCommand(refType: String, name: String, dir: String,
      atVersion: Option[Long]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("name", "type", "base_version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireCreateRef(spark, dir, refType,
        s"CREATE ${refType.toUpperCase(java.util.Locale.ROOT)}")
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      val r = if (refType == "branch") t.createBranch(name, atVersion)
              else t.createTag(name, atVersion)
      Seq(Row(r.name, r.refType, r.baseVersion.toString))
    }
  }

  /** DROP BRANCH/TAG ... FROM LAKE. */
  case class DropRefCommand(refType: String, name: String, dir: String)
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireRefDrop(spark, dir, refType, name,
        s"DROP ${refType.toUpperCase(java.util.Locale.ROOT)}")
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      val r = t.getRef(name)
      require(r.refType == refType, s"'$name' is a ${r.refType}, not a $refType")
      t.dropRef(name)
      Nil
    }
  }

  /** SHOW REFS FROM LAKE: every branch and tag with its base version. */
  case class ShowRefsCommand(dir: String, override val output: Seq[Attribute],
      kindFilter: Option[String] = None)
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      graft.sources.SnapshotTable.forPath(spark, dir).listRefs
        .filter(r => kindFilter.forall(_ == r.refType))
        .map(r => Row(r.name, r.refType, r.baseVersion.toString))
  }

  /** ALTER BRANCH|TAG ... ASSIGN VERSION (SqlAssignBranch/SqlAssignTag). */
  case class AssignRefCommand(refType: String, name: String, toVersion: Long,
      dir: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("name", "type", "base_version")
    override def run(spark: SparkSession): Seq[Row] = {
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      require(t.getRef(name).refType == refType,
        s"'$name' is a ${t.getRef(name).refType}, not a $refType")
      val r = t.assignRef(name, toVersion)
      Seq(Row(r.name, r.refType, r.baseVersion.toString))
    }
  }

  /** ALTER USER ... SET PASSWORD (SqlAlterUser). */
  case class AlterUserCommand(name: String, password: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.alterPassword(spark, name, password)
      Seq(Row(name.toLowerCase))
    }
  }

  /** Row-access / column-masking policy DDL (SqlAlterTableAddRowAccessPolicy,
    * SqlAlterTableSetColumnMasking and their drop/unset forms). */
  case class PolicyCommand(view: String, action: String, column: Option[String],
      fn: String, args: Seq[String], override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      import graft.auth.Policies
      val p = Policies.Policy(fn, args)
      action match {
        case "add_row" => Policies.addRowPolicy(spark, view, p)
        case "drop_row" => Policies.dropRowPolicy(spark, view, fn)
        case "set_mask" => Policies.setMasking(spark, view, column.get, p)
        case "unset_mask" => Policies.unsetMasking(spark, view, column.get, fn)
      }
      Seq(Row(view, if (args.nonEmpty) p.sql else fn))
    }
  }

  /** SHOW POLICIES: every attached row-access/masking policy. */
  case class ShowPoliciesCommand(override val output: Seq[Attribute])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      graft.auth.Policies.list(spark).map { case (v, k, p) => Row(v, k, p) }
  }

  /** MERGE BRANCH ... INTO LAKE: fast-forward squash publish (the
    * write-audit-publish promotion step). */
  case class MergeBranchCommand(name: String, dir: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "MERGE BRANCH")
      val v = graft.sources.SnapshotTable.forPath(spark, dir).mergeBranch(name)
      Seq(Row(v.toString))
    }
  }

  /** MERGE BRANCH ... DRY RUN (Nessie merge dry-run): one row per finding
    * — ("fast_forward"|"three_way", "") when the merge would publish, or
    * ("conflict", <message>) rows naming each conflict. Advisory: no lock,
    * nothing publishes. SELECT-gated (it reveals only metadata). */
  case class MergeBranchDryRunCommand(name: String, dir: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      // table-wide SELECT or USAGE on the source branch — the dry run
      // reveals only that branch's metadata
      graft.auth.Privileges.requireRefUsage(spark, dir, "branch", name,
        "MERGE BRANCH DRY RUN")
      val (status, details) =
        graft.sources.SnapshotTable.forPath(spark, dir).mergeDryRun(name)
      if (details.isEmpty) Seq(Row(status, ""))
      else details.map(d => Row(status, d))
    }
  }

  /** INSERT INTO LAKE ... AT BRANCH: staged append, invisible to main
    * readers until the branch is merged. */
  case class InsertLakeAtBranchCommand(dir: String, branch: String, querySql: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("branch", "version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireBranchAction(spark, "insert", dir, branch,
        "INSERT INTO LAKE AT BRANCH")
      // analyze the user's query OUTSIDE the statement-authorization
      // window — its own reads must pass the check rule on their own
      val df = spark.sql(querySql)
      val v = graft.auth.Privileges.withStatementAuthorized(dir) {
        graft.sources.SnapshotTable.forPath(spark, dir).appendToBranch(branch, df)
      }
      Seq(Row(branch, v.toString))
    }
  }

  /** CREATE LAKE VIEW ... AT BRANCH|TAG (reference `AT BRANCH` read
    * syntax, `versionSupport.ftl:589`). */
  case class CreateLakeViewAtRefCommand(name: String, dir: String, refName: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("view", "ref")
    override def run(spark: SparkSession): Seq[Row] = {
      val t = graft.sources.SnapshotTable.forPath(spark, dir)
      graft.auth.Privileges.requireRefUsage(spark, dir,
        t.getRef(refName).refType, refName, "CREATE LAKE VIEW AT REF")
      t.readRef(refName).createOrReplaceTempView(name)
      val kind = t.getRef(refName).refType.toUpperCase(java.util.Locale.ROOT)
      graft.catalog.LakeViews.register(name, dir,
        s"CREATE LAKE VIEW $name FROM '$dir' AT $kind $refName")
      Seq(Row(name, refName))
    }
  }

  /** ALTER LAKE ... SET TBLPROPERTIES (reference SqlAlterTableProperties,
    * `AlterTablePropertiesHandler.java`; grammar parserImpls.ftl:878):
    * metadata-only commit merging the pairs into the table's property
    * map. Functional, not cosmetic: `autocompact.files` configures
    * per-table ingest maintenance (beats the session conf). */
  /** ALTER LAKE ... SET PARTITION SPEC (partition evolution — the Iceberg
    * `ALTER TABLE ... ADD/DROP PARTITION FIELD` contract in whole-spec
    * form): future writes land under the new transforms, existing files
    * keep their own layout and keep pruning. Empty parens drop
    * partitioning for future writes. */
  case class SetLakePartitionSpecCommand(dir: String, spec: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir,
        "ALTER LAKE SET PARTITION SPEC")
      Seq(Row(graft.sources.SnapshotTable.forPath(spark, dir)
        .setPartitionSpec(spec).toString))
    }
  }

  /** ALTER LAKE ... SET SORT ORDER (sort-order evolution — the Iceberg
    * `WRITE ORDERED BY` contract): future writes/compactions sort by the
    * new columns, existing files keep their recorded order. Empty parens
    * drop the sticky order. */
  case class SetLakeSortOrderCommand(dir: String, cols: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir,
        "ALTER LAKE SET SORT ORDER")
      Seq(Row(graft.sources.SnapshotTable.forPath(spark, dir)
        .setSortOrder(cols).toString))
    }
  }

  /** ALTER LAKE ... ENABLE|DISABLE APPROXIMATE STATS (reference
    * SqlSetApprox → `SetApproxHandler.java` →
    * `PhysicalDataset.allowApproxStats`): a metadata-only property commit
    * that opts the table's columns into NDV-sketch COUNT(DISTINCT)
    * planning ([[graft.plans.ApproxCountDistinct]]). */
  case class SetApproxStatsCommand(dir: String, enable: Boolean)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir,
        "ALTER LAKE ENABLE|DISABLE APPROXIMATE STATS")
      Seq(Row(graft.sources.SnapshotTable.forPath(spark, dir)
        .setProperties(Map(
          graft.sources.SnapshotTable.ApproxStatsKey -> enable.toString))
        .toString))
    }
  }

  case class SetLakePropertiesCommand(dir: String, kvs: Map[String, String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "ALTER LAKE SET TBLPROPERTIES")
      require(kvs.nonEmpty, "SET TBLPROPERTIES needs at least one 'k' = 'v' pair")
      Seq(Row(graft.sources.SnapshotTable.forPath(spark, dir)
        .setProperties(kvs).toString))
    }
  }

  /** ALTER LAKE ... UNSET TBLPROPERTIES: metadata-only commit dropping
    * the named keys (absent keys are a no-op). */
  case class UnsetLakePropertiesCommand(dir: String, keys: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "ALTER LAKE UNSET TBLPROPERTIES")
      Seq(Row(graft.sources.SnapshotTable.forPath(spark, dir)
        .unsetProperties(keys).toString))
    }
  }

  /** SHOW TBLPROPERTIES IN LAKE (reference SqlShowTableProperties,
    * parserImpls.ftl:150): the current effective property map. */
  case class ShowLakePropertiesCommand(dir: String,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] =
      graft.sources.SnapshotTable.forPath(spark, dir).properties
        .toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
  }

  /** ALTER LAKE ... RENAME COLUMN: metadata-only commit; files written
    * before the rename keep serving values under the new name (field-id
    * mapping, see SnapshotTable.renameColumn). */
  case class RenameLakeColumnCommand(dir: String, oldName: String, newName: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "ALTER LAKE RENAME COLUMN")
      val v = graft.sources.SnapshotTable.forPath(spark, dir)
        .renameColumn(oldName, newName)
      Seq(Row(v.toString))
    }
  }

  /** ALTER LAKE ... ADD COLUMN: metadata-only commit with a fresh field
    * id (old files read NULL; retired data never resurfaces). */
  case class AddLakeColumnCommand(dir: String, name: String, typeDdl: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "ALTER LAKE ADD COLUMN")
      Seq(Row(graft.sources.SnapshotTable.forPath(spark, dir)
        .addColumn(name, typeDdl).toString))
    }
  }

  /** ALTER LAKE ... DROP COLUMN: metadata-only commit retiring the id. */
  case class DropLakeColumnCommand(dir: String, name: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "ALTER LAKE DROP COLUMN")
      Seq(Row(graft.sources.SnapshotTable.forPath(spark, dir)
        .dropColumn(name).toString))
    }
  }

  /** ROLLBACK LAKE ... TO VERSION: restore an old snapshot as a NEW
    * commit (history intact; carry-by-reference when ids are uniform). */
  case class RollbackLakeCommand(dir: String, version: Long)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("version")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "alter", dir, "ROLLBACK LAKE")
      Seq(Row(graft.sources.SnapshotTable.forPath(spark, dir)
        .restoreVersion(version).toString))
    }
  }

  /** ANALYZE LAKE: one-pass column profile of the current snapshot
    * (reference SqlAnalyzeTableStatistics →
    * `services/statistics/StatisticsServiceImpl.java:76`; HLL ndv is the
    * scale path — see catalog.Statistics). */
  case class AnalyzeLakeCommand(dir: String, override val output: Seq[Attribute],
      persist: Boolean = false, histogram: Boolean = false, buckets: Int = 16,
      columns: Seq[String] = Nil)
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      // COMPUTE STATISTICS persists the profile (plus equi-height
      // histograms under WITH HISTOGRAM) into TBLPROPERTIES, where full
      // snapshot scans feed it to CBO (see graft.catalog.CboStats) — a
      // table MUTATION (a metadata commit), so it carries the same ALTER
      // gate as SET TBLPROPERTIES; the bare form stays a read-only
      // profile and needs only SELECT. FOR COLUMNS scopes the pass to the
      // named columns (the reference's column-scoped analyze — a wide
      // 100 TB table profiles its join/filter keys, not every column);
      // scoped persistence MERGES with other columns' existing stats.
      val action = if (persist) "alter" else "select"
      graft.auth.Privileges.requireAction(spark, action, dir, "ANALYZE LAKE")
      val prof =
        if (persist)
          graft.catalog.CboStats.analyze(spark, dir, histogram, buckets, columns)
        else {
          val full = graft.sources.SnapshotTable.forPath(spark, dir).read()
          graft.catalog.Statistics.profile(
            if (columns.isEmpty) full
            else full.select(columns.map(
              org.apache.spark.sql.functions.col): _*))
        }
      prof.collect().toSeq.map(r => Row(
        r.getString(0), r.getLong(1).toString, r.getLong(2).toString,
        r.getLong(3).toString, r.getString(4), r.getString(5)))
    }
  }

  /** COPY INTO: bulk file load with ON_ERROR semantics (reference
    * `CopyIntoTableContext.java:49`); errors land in the copy_errors
    * history table next to the target. */
  case class CopyIntoCommand(target: String, src: String, fmt: String,
      schemaDdl: String, onError: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = out("loaded", "errors")
    override def run(spark: SparkSession): Seq[Row] = {
      graft.auth.Privileges.requireAction(spark, "insert", target, "COPY INTO")
      val r = graft.sources.CopyInto.copyInto(
        spark, src, fmt, StructType.fromDDL(schemaDdl), target, onError)
      Seq(Row(r.loaded.toString, r.errors.toString))
    }
  }

  /** ALTER TABLE ... REFRESH METADATA (reference SqlRefreshDataset,
    * Parser.tdd:624): re-profile the source — in Spark, invalidate the
    * cached file listing / catalog entry. A REST-promoted dataset drops
    * its cached plan, so the next request re-lists its folder and (with
    * schema learning on) re-infers the schema. */
  case class RefreshMetadataCommand(ident: String) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      if (ident.contains("/")) spark.catalog.refreshByPath(ident)
      else {
        val promoted = graft.server.GraftRestServer.refreshPromotion(ident)
        try spark.catalog.refreshTable(ident)
        catch { case e: Exception if promoted => () } // view lives per request
      }
      Nil
    }
  }

  /** ALTER TABLE <name> ENABLE|DISABLE SCHEMA LEARNING (reference
    * SqlAlterTableToggleSchemaLearning): schema learning is ON by default
    * for promoted datasets — re-inference on REFRESH METADATA picks up
    * drift; DISABLE pins the schema captured now (drifted-in columns
    * vanish, drifted-out columns read NULL) until ENABLE re-learns. */
  case class ToggleSchemaLearningCommand(name: String, on: Boolean,
      override val output: Seq[Attribute]) extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = {
      graft.server.GraftRestServer.setSchemaLearning(spark, name, on)
      Seq(Row(name, if (on) "ENABLED" else "DISABLED"))
    }
  }
}

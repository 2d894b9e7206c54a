package graft.catalog

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types._

/** INFORMATION_SCHEMA + sys.* introspection tables (reference:
  * `exec/store/ischema/InfoSchemaGroupScan.java` and
  * `exec/store/sys/SystemGroupScan.java`).
  *
  * Registered as `information_schema_*` / `sys_*` temp views (Spark temp
  * views cannot carry a dotted schema prefix). The mutable-registry views
  * (`sys_queries`, `sys_reflections`, `sys_pipes`, `sys_options`,
  * `sys_nodes`) are LIVE: the temp view holds a [[LiveRelation]] whose
  * `buildScan` re-reads the backing registry every time a query over the
  * view is planned — `SELECT * FROM sys_queries` after running work shows
  * that work, with no re-register. The catalog-shaped views
  * (`information_schema_tables`/`columns`, `sys_functions`) stay
  * point-in-time snapshots: their rows come from catalog Datasets whose
  * collection cannot safely run inside another query's planning.
  */
object InfoSchema {

  /** A view whose rows are re-materialized from a driver-side registry on
    * every scan. The thunk must be cheap and must NOT execute a Spark
    * query (it runs during the outer query's planning). */
  private final class LiveRelation(
      spark: SparkSession,
      override val schema: StructType,
      rows: () => Seq[Row]) extends BaseRelation with TableScan {
    override def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    override def buildScan(): RDD[Row] =
      spark.sparkContext.parallelize(rows(), numSlices = 1)
  }

  private def live(spark: SparkSession, schema: StructType,
                   rows: () => Seq[Row]): DataFrame =
    spark.baseRelationToDataFrame(new LiveRelation(spark, schema, rows))

  def tables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().collect().toSeq
      .map(t => (Option(t.catalog).getOrElse(""), Option(t.namespace).map(_.mkString(".")).getOrElse(""),
        t.name, t.tableType, t.isTemporary))
      .toDF("table_catalog", "table_schema", "table_name", "table_type", "is_temporary")
  }

  def columns(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = spark.catalog.listTables().collect().toSeq.flatMap { t =>
      scala.util.Try(spark.catalog.listColumns(t.name).collect().toSeq).toOption
        .getOrElse(Nil)
        .zipWithIndex
        .map { case (c, i) =>
          (t.name, c.name, i + 1, c.dataType, c.nullable, c.isPartition)
        }
    }
    rows.toDF("table_name", "column_name", "ordinal_position", "data_type",
      "is_nullable", "is_partition")
  }

  def sysOptions(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("value", StringType, nullable = true))),
      () => spark.conf.getAll.toSeq.sortBy(_._1).map(kv => Row(kv._1, kv._2)))

  def sysNodes(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("host", StringType, nullable = false),
      StructField("port", IntegerType, nullable = false),
      StructField("running_tasks", IntegerType, nullable = false))),
      () => spark.sparkContext.statusTracker.getExecutorInfos.toSeq
        .map(e => Row(e.host(), e.port(), e.numRunningTasks())))

  /** sys.reflections (reference `sys.reflections` over ReflectionManager
    * state): the registered materializations, their fingerprints, and
    * whether a base lake table has advanced past the materialized state
    * (stale reflections are skipped by substitution until refreshed). */
  def sysReflections(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("fingerprint", StringType, nullable = false),
      StructField("path", StringType, nullable = false),
      StructField("stale", BooleanType, nullable = false),
      // refresh-period policy + dependency edges (reference sys.reflections
      // carries refresh settings; dependencies from DependencyGraph)
      StructField("refresh_every_min", StringType, nullable = false),
      StructField("last_refresh_ms", StringType, nullable = false),
      StructField("depends_on", StringType, nullable = false))),
      () => {
        val deps = graft.accel.Reflections.dependencies()
        graft.accel.Reflections.list
          .map(r => Row(r.name, r.fingerprint, r.path,
            !graft.accel.Reflections.isFresh(spark, r),
            graft.accel.Reflections.refreshPolicyOf(r.name)
              .map(_.toString).getOrElse("manual"),
            graft.accel.Reflections.lastRefreshOf(r.name)
              .map(_.toString).getOrElse(""),
            deps.getOrElse(r.name, Set.empty).toSeq.sorted.mkString(",")))
      })

  /** sys.pipes (reference `sys."pipes"` over the pipe registry). */
  def sysPipes(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("target", StringType, nullable = false),
      StructField("checkpoint", StringType, nullable = false),
      StructField("running", BooleanType, nullable = false))),
      () => graft.streaming.Pipes.list
        .map(p => Row(p.name, p.sourceDir, p.format, p.targetDir,
          p.checkpointDir, !p.paused)))

  /** sys.streams: every ACTIVE Structured Streaming query on the shared
    * context (pipes started RUN CONTINUOUS, graft-lake streams, dedup
    * admission streams), with its latest micro-batch progress — the
    * streaming face of the jobs surface (reference jobs service lists
    * running reflections/pipe refreshes the same way). Live: each scan
    * re-reads `spark.streams.active`. */
  def sysStreams(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("run_id", StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("batch_id", LongType, nullable = false),
      StructField("input_rows_per_sec", DoubleType, nullable = false),
      StructField("processed_rows_per_sec", DoubleType, nullable = false),
      StructField("num_input_rows", LongType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("sink", StringType, nullable = false),
      StructField("status", StringType, nullable = false),
      StructField("is_data_available", BooleanType, nullable = false))),
      () => spark.streams.active.toSeq.map { q =>
        val p = Option(q.lastProgress)
        def d(x: Option[Double]) = x.filterNot(_.isNaN).getOrElse(0.0)
        Row(q.id.toString, q.runId.toString, Option(q.name).getOrElse(""),
          p.map(_.batchId).getOrElse(-1L),
          d(p.map(_.inputRowsPerSecond)),
          d(p.map(_.processedRowsPerSecond)),
          p.map(_.numInputRows).getOrElse(0L),
          p.flatMap(_.sources.headOption).map(_.description).getOrElse(""),
          p.map(_.sink.description).getOrElse(""),
          q.status.message, q.status.isDataAvailable)
      })

  /** sys.functions (reference FunctionImplementationRegistry surface):
    * every function callable in this session. */
  def sysFunctions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listFunctions().collect().toSeq
      .map(f => (f.name, Option(f.className).getOrElse(""), f.isTemporary))
      .toDF("name", "class_name", "is_temporary")
  }

  /** sys.queries (reference jobs service / query profiles —
    * `services/jobs`): the session's completed query actions with duration
    * and execution metrics, most recent first. Live: each scan re-reads
    * the history ring, so the view registered at attach() time reflects
    * every query run since. */
  def sysQueries(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("action", StringType, nullable = false),
      StructField("status", StringType, nullable = false),
      StructField("duration_ms", DoubleType, nullable = false),
      StructField("output_rows", LongType, nullable = false),
      StructField("shuffle_bytes", LongType, nullable = false),
      StructField("error", StringType, nullable = false),
      StructField("plan_root", StringType, nullable = false),
      StructField("timestamp_ms", LongType, nullable = false),
      StructField("user_name", StringType, nullable = false))),
      () => QueryHistory.records
        .map(r => Row(r.id, r.action, r.status, r.durationMs, r.outputRows,
          r.shuffleBytes, r.error, r.plan, r.tsMs, r.userName)))

  /** sys.join_analysis (reference per-job `JoinAnalysis` —
    * `JobsBasedRecommender.java:108` consumes it): every equi-join a
    * completed action ran, resolved to base tables, most recent first. */
  def sysJoinAnalysis(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("left_table", StringType, nullable = false),
      StructField("right_table", StringType, nullable = false),
      StructField("join_type", StringType, nullable = false),
      StructField("left_keys", ArrayType(StringType), nullable = false),
      StructField("right_keys", ArrayType(StringType), nullable = false),
      StructField("timestamp_ms", LongType, nullable = false))),
      () => QueryHistory.joinObservations
        .map(o => Row(o.queryId, o.leftTable, o.rightTable, o.joinType,
          o.leftKeys, o.rightKeys, o.tsMs)))

  /** sys.queues (reference WLM queue state — `services/resourcescheduler`
    * BasicResourceAllocator): per-queue slots, live occupancy, and
    * admission counters. */
  def sysQueues(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("slots", IntegerType, nullable = false),
      StructField("pool", StringType, nullable = false),
      StructField("timeout_ms", LongType, nullable = false),
      StructField("running", LongType, nullable = false),
      StructField("queued", LongType, nullable = false),
      StructField("admitted", LongType, nullable = false),
      StructField("timed_out", LongType, nullable = false),
      StructField("peak_queued", LongType, nullable = false))),
      () => graft.engine.Queues.status
        .map(q => Row(q.name, q.slots, q.pool, q.timeoutMs, q.running,
          q.queued, q.admitted, q.timedOut, q.peakQueued)))

  /** sys.running_queries — in-flight statements with their job group, the
    * live half of the jobs service (finished work is sys_queries). CANCEL
    * QUERY <id> kills an entry (reference `LocalJobsService.java:3060`). */
  def sysRunningQueries(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("statement", StringType, nullable = false),
      StructField("job_group", StringType, nullable = false),
      StructField("started_ms", LongType, nullable = false),
      StructField("user_name", StringType, nullable = true))),
      () => graft.engine.RunningQueries.list
        .map(r => Row(r.id, r.statement,
          graft.engine.RunningQueries.group(r.id), r.startedMs,
          r.owner.orNull)))

  /** sys.result_cache (reference plan-cache state —
    * `exec/planner/plancache/PlanCache.java`). */
  def sysResultCache(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("fingerprint", StringType, nullable = false),
      StructField("hits", LongType, nullable = false),
      StructField("lake_deps", IntegerType, nullable = false))),
      () => graft.accel.ResultCache.listEntries
        .map(e => Row(e.fingerprint, e.hits, e.lakeDeps)))

  /** sys.routing_rules (reference `RuleBasedEngineSelector.java` — the
    * rule set the workload manager consults per statement). */
  def sysRoutingRules(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("priority", IntegerType, nullable = false),
      StructField("condition", StringType, nullable = false),
      StructField("queue", StringType, nullable = false))),
      () => graft.engine.Queues.listRules
        .map(r => Row(r.name, r.priority, r.cond, r.queue)))

  /** sys.prepared_statements: live Flight SQL prepared-statement handles
    * (owner, statement, created/last-used, pending parameter bindings) —
    * the wire-session counterpart of sys_queries, so an operator can see
    * which handles are alive and when idle expiry will reap them. */
  def sysPreparedStatements(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("handle", StringType, nullable = false),
      StructField("owner", StringType, nullable = false),
      StructField("statement", StringType, nullable = false),
      StructField("created_at", TimestampType, nullable = false),
      StructField("last_used_at", TimestampType, nullable = false),
      StructField("bound_param_rows", IntegerType, nullable = false))),
      () => graft.server.flight.GraftFlightSql.listPrepared
        .map { case (h, o, s, born, used, nParams) =>
          Row(h, o, s, new java.sql.Timestamp(born),
            new java.sql.Timestamp(used), nParams)
        })

  /** sys.plan_cache (reference `exec/planner/plancache/CachedPlan.java`
    * use counts surfaced per cached statement plan). */
  def sysPlanCache(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("fingerprint", StringType, nullable = false),
      StructField("statement", StringType, nullable = false),
      StructField("hits", LongType, nullable = false),
      StructField("lake_deps", IntegerType, nullable = false))),
      () => graft.accel.PlanCache.listEntries
        .map(e => Row(e.fingerprint, e.statement, e.hits, e.lakeDeps)))

  /** sys.codegen: the process-wide janino ledger, one row — classes
    * compiled (`CodegenMetrics` compilation count), their total compile
    * time (`CodeGenerator.compileTime`, exact), the mean bytecode size of
    * a generated class (`CodegenMetrics`, over Spark's time-decayed
    * sample) and the codegen cache's capacity (the static
    * `spark.sql.codegen.cache.maxEntries`). Read it before and after a
    * slow statement: a risen `compiles` means the statement paid janino
    * time instead of reusing cached classes. */
  def sysCodegen(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("compiles", LongType, nullable = false),
      StructField("compile_ms", DoubleType, nullable = false),
      StructField("generated_class_bytes", LongType, nullable = false),
      StructField("cache_capacity", IntegerType, nullable = false))),
      () => {
        import org.apache.spark.metrics.source.CodegenMetrics
        Seq(Row(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
          org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
          math.round(CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot.getMean),
          spark.conf.get(org.apache.spark.sql.internal.StaticSQLConf
            .CODEGEN_CACHE_MAX_ENTRIES.key).toInt))
      })

  /** sys.file_metadata: the schema cache of path-qualified file tables
    * (reference metadata-refresh state, `exec/store/metadatarefresh/`) —
    * one row per (format, path, options, session conf) entry with the
    * listing's file count, a digest of the cached schema, and how often
    * it served a resolution (`hits`) or was inferred (`inferences`). A
    * statement that re-inferred a schema shows as a risen `inferences`. */
  def sysFileMetadata(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("path", StringType, nullable = false),
      StructField("files", IntegerType, nullable = false),
      StructField("schema_digest", StringType, nullable = false),
      StructField("hits", LongType, nullable = false),
      StructField("inferences", LongType, nullable = false))),
      () => graft.sources.FileMetadata.listEntries
        .map(e => Row(e.format, e.path, e.files, e.schemaDigest, e.hits, e.inferences)))

  /** Object privileges (reference `sys.privileges` over the dac grant
    * store; grammar `includes/grant.ftl`). */
  def sysPrivileges(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("grantee_type", StringType, nullable = false),
      StructField("grantee", StringType, nullable = false),
      StructField("privilege", StringType, nullable = false),
      StructField("object", StringType, nullable = false))),
      () => graft.auth.Privileges.listGrants
        .map { case (k, g, a, o) => Row(k, g, a, o) })

  /** Attached row-access / column-masking policies (reference catalog
    * policy attachments — alter.ftl:92,162). */
  def sysPolicies(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("dataset", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("policy", StringType, nullable = false))),
      () => graft.auth.Policies.list(spark).map { case (v, k, p) => Row(v, k, p) })

  /** Registered users with role memberships (reference `sys.\"user\"`). */
  def sysUsers(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("is_admin", BooleanType, nullable = false),
      StructField("roles", StringType, nullable = false))),
      () => graft.auth.Privileges.listUsers
        .map(u => Row(u.name, u.admin, u.roles.toSeq.sorted.mkString(","))))

  /** Registered external sources with live probe state (reference
    * source catalog / SourceState — [[Sources]]). */
  def sysSources(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("status", StringType, nullable = false),
      StructField("message", StringType, nullable = false),
      StructField("last_probe_ms", LongType, nullable = false))),
      () => Sources.list.map(s =>
        Row(s.name, s.kind, s.status, s.message, s.lastProbeMs)))

  /** Saved scripts (reference `services/script`): VISIBILITY-scoped like
    * SHOW SCRIPTS (script names can themselves be sensitive), metadata
    * only — content stays behind the VIEW gate (DESCRIBE SCRIPT). */
  def sysScripts(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("owner", StringType, nullable = false),
      StructField("created_ms", LongType, nullable = false),
      StructField("modified_ms", LongType, nullable = false))),
      () => Scripts.visible(spark).map(s =>
        Row(s.name, s.owner, s.createdMs, s.modifiedMs)))

  /** Registered roles (reference `sys.roles`). */
  def sysRoles(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("name", StringType, nullable = false))),
      () => graft.auth.Privileges.listRoles.map(Row(_)))

  /** Per-batch streaming progress history ([[StreamHistory]]): the trail
    * behind `sys_streams`' live snapshot — every micro-batch's rates plus
    * start/termination (incl. error) markers, surviving the query. */
  def sysStreamProgress(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("run_id", StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("batch_id", LongType, nullable = false),
      StructField("ts_ms", LongType, nullable = false),
      StructField("event", StringType, nullable = false),
      StructField("num_input_rows", LongType, nullable = false),
      StructField("input_rows_per_sec", DoubleType, nullable = false),
      StructField("processed_rows_per_sec", DoubleType, nullable = false),
      StructField("trigger_ms", LongType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("sink", StringType, nullable = false))),
      () => StreamHistory.records.map(r =>
        Row(r.queryId, r.runId, r.name, r.batchId, r.tsMs, r.event,
          r.numInputRows, r.inputRowsPerSec, r.processedRowsPerSec,
          r.triggerMs, r.source, r.sink)))

  /** sys.version (reference VersionIterator.VersionInfo — build identity;
    * the reference itself defaults every field to "Unknown" when the
    * build-info resource is absent). */
  def sysVersion(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("version", StringType, nullable = false),
      StructField("commit_id", StringType, nullable = false),
      StructField("commit_message", StringType, nullable = false),
      StructField("commit_time", StringType, nullable = false),
      StructField("build_email", StringType, nullable = false),
      StructField("build_time", StringType, nullable = false))),
      () => Seq(Row(s"graft-on-spark-${org.apache.spark.SPARK_VERSION}",
        "Unknown", "", "", "Unknown", "")))

  /** sys.memory (reference MemoryIterator.MemoryInfo): heap + direct
    * buffer occupancy of THIS JVM — one honest driver row, not per-node
    * rows filled with the driver's numbers (executor memory lives in the
    * Spark metrics system; a cluster deployment would join those in). */
  def sysMemory(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("node_id", StringType, nullable = false),
      StructField("hostname", StringType, nullable = false),
      StructField("heap_current", LongType, nullable = false),
      StructField("heap_max", LongType, nullable = false),
      StructField("direct_current", LongType, nullable = false),
      StructField("direct_max", LongType, nullable = false))),
      () => {
        import scala.jdk.CollectionConverters._
        val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
        val direct = java.lang.management.ManagementFactory
          .getPlatformMXBeans(classOf[java.lang.management.BufferPoolMXBean]).asScala
          .find(_.getName == "direct")
        Seq(Row("driver", java.net.InetAddress.getLocalHost.getHostName,
          heap.getUsed, heap.getMax,
          direct.map(_.getMemoryUsed).getOrElse(0L),
          direct.map(_.getTotalCapacity).getOrElse(0L)))
      })

  /** sys.threads (reference ThreadsIterator.ThreadSummary): JVM thread
    * snapshot with per-thread cpu/user time. */
  def sysThreads(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("hostname", StringType, nullable = false),
      StructField("thread_id", LongType, nullable = false),
      StructField("thread_name", StringType, nullable = false),
      StructField("thread_state", StringType, nullable = false),
      StructField("cpu_time_ms", LongType, nullable = false),
      StructField("user_time_ms", LongType, nullable = false))),
      () => {
        val tm = java.lang.management.ManagementFactory.getThreadMXBean
        val host = java.net.InetAddress.getLocalHost.getHostName
        tm.getThreadInfo(tm.getAllThreadIds).toSeq.filter(_ != null).map { ti =>
          Row(host, ti.getThreadId, ti.getThreadName, ti.getThreadState.name,
            math.max(tm.getThreadCpuTime(ti.getThreadId), 0L) / 1000000L,
            math.max(tm.getThreadUserTime(ti.getThreadId), 0L) / 1000000L)
        }
      })

  /** sys.materializations (reference AccelerationListManager
    * .MaterializationInfo): one row per live materialization with its
    * on-disk footprint. The FS walk is driver-side metadata IO over a
    * human-scale registry — never a Spark job. */
  def sysMaterializations(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("reflection_id", StringType, nullable = false),
      StructField("materialization_id", StringType, nullable = false),
      StructField("path", StringType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("data_files", LongType, nullable = false),
      StructField("state", StringType, nullable = false),
      StructField("last_refresh_ms", LongType, nullable = false))),
      () => graft.accel.Reflections.list.map { r =>
        val p = new org.apache.hadoop.fs.Path(r.path)
        val (bytes, files) =
          try {
            val fs = p.getFileSystem(org.apache.spark.sql.graft.Bridge.hadoopConf(spark))
            val su = fs.getContentSummary(p)
            (su.getLength, su.getFileCount)
          } catch { case _: Exception => (-1L, -1L) }
        Row(r.name, r.fingerprint, r.path, bytes, files,
          if (graft.accel.Reflections.isFresh(spark, r)) "CAN_ACCELERATE" else "STALE",
          graft.accel.Reflections.lastRefreshOf(r.name).getOrElse(0L))
      })

  /** sys.refreshes (reference AccelerationListManager.RefreshInfo): the
    * refresh HISTORY (bounded ring) behind the live goal state. */
  def sysRefreshes(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("refresh_id", StringType, nullable = false),
      StructField("reflection_id", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("created_at_ms", LongType, nullable = false),
      StructField("path", StringType, nullable = false),
      StructField("series_ordinal", IntegerType, nullable = false))),
      () => graft.accel.Reflections.refreshes.map(e =>
        Row(e.refreshId, e.reflection, e.kind, e.atMs, e.path, e.seriesOrdinal)))

  /** sys.dependencies (reference AccelerationListManager.DependencyInfo —
    * the DependencyGraph rows): reflection→reflection edges from the r14
    * dependency-ordered maintenance graph, plus each goal's base DATASET
    * anchors. */
  def sysDependencies(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("reflection_id", StringType, nullable = false),
      StructField("dependency_id", StringType, nullable = false),
      StructField("dependency_type", StringType, nullable = false),
      StructField("dependency_path", StringType, nullable = false))),
      () => {
        val refl = graft.accel.Reflections.list
        val byName = refl.map(r => r.name -> r).toMap
        val reflEdges = graft.accel.Reflections.dependencies().toSeq.flatMap {
          case (from, ups) => ups.toSeq.sorted.map(up =>
            Row(from, up, "REFLECTION", byName.get(up).map(_.path).getOrElse("")))
        }
        val dataEdges = refl.flatMap(r =>
          graft.accel.Reflections.baseDatasetsOf(r.name)
            .map(d => Row(r.name, d, "DATASET", d)))
        (reflEdges ++ dataEdges).sortBy(r => (r.getString(0), r.getString(2), r.getString(1)))
      })

  /** sys.membership (reference SystemTable.MEMBERSHIP): user→role edges —
    * the flattened view behind sys_users' roles column. */
  def sysMembership(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("role_name", StringType, nullable = false),
      StructField("member_name", StringType, nullable = false),
      StructField("member_type", StringType, nullable = false))),
      () => graft.auth.Privileges.listUsers.flatMap(u =>
        u.roles.toSeq.sorted.map(r => Row(r, u.name, "USER"))))

  /** sys.services (reference ServicesIterator): the wire front ends live
    * in this JVM right now, with their bound ports. */
  /** sys.table_statistics (reference SystemTable TABLE_STATISTICS /
    * StatisticsService): one row per (analyzed lake table, column) with
    * the persisted ANALYZE profile — NDV, nulls, min/max, histogram and
    * frequent-item footprints — plus table-level row count / size /
    * analyzed version. Stats live in each table's TBLPROPERTIES; the
    * view enumerates the paths ANALYZE and lake_stats have touched. */
  def sysTableStatistics(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("table_path", StringType, nullable = false),
      StructField("column_name", StringType, nullable = false),
      StructField("analyzed_type", StringType, nullable = true),
      StructField("ndv", LongType, nullable = false),
      StructField("null_count", LongType, nullable = false),
      StructField("min_value", StringType, nullable = true),
      StructField("max_value", StringType, nullable = true),
      StructField("histogram_bins", IntegerType, nullable = false),
      StructField("frequent_items", IntegerType, nullable = false),
      StructField("row_count", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("analyzed_version", LongType, nullable = false))),
      () => CboStats.statisticsRows(spark))

  /** sys.fragments (reference SystemTable FRAGMENTS / SLICING_THREADS —
    * the per-fragment execution ledger): Spark's fragment is the STAGE
    * and its slicing threads are TASKS, so this is one live row per
    * stage of every ACTIVE job from SparkStatusTracker. Finished work's
    * per-operator story lives in query_profile()/sys_queries. */
  def sysFragments(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("job_id", IntegerType, nullable = false),
      StructField("stage_id", IntegerType, nullable = false),
      StructField("attempt", IntegerType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("num_tasks", IntegerType, nullable = false),
      StructField("active_tasks", IntegerType, nullable = false),
      StructField("complete_tasks", IntegerType, nullable = false),
      StructField("failed_tasks", IntegerType, nullable = false))),
      () => {
        val st = spark.sparkContext.statusTracker
        for {
          j <- st.getActiveJobIds().toSeq
          ji <- st.getJobInfo(j).toSeq
          s <- ji.stageIds().toSeq
          si <- st.getStageInfo(s).toSeq
        } yield Row(j, s, si.currentAttemptId(), si.name(), si.numTasks(),
          si.numActiveTasks(), si.numCompletedTasks(), si.numFailedTasks())
      })

  // ---- sys cache family (reference SystemTable CACHE_MANAGER_DATASETS /
  // _FILES / _MOUNT_POINTS / _STORAGE_PLUGINS — the columnar "boost"
  // cache registry, `exec/work/CacheManager*Info.java`). This engine's
  // columnar cache IS Spark's cache (CACHE TABLE / Dataset.persist), so
  // the views read the live CacheManager and BlockManager instead of a
  // bespoke boost store — same operator questions (what is cached, how
  // big, where, how much room is left), Spark-native answers. ----

  /** One row per cached PLAN (reference cache.datasets). */
  def sysCacheDatasets(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("dataset_name", StringType, nullable = true),
      StructField("plan_node", StringType, nullable = false),
      StructField("storage_level", StringType, nullable = false),
      StructField("loaded", BooleanType, nullable = false),
      StructField("approx_size_bytes", LongType, nullable = false))),
      () => org.apache.spark.sql.graft.Bridge.cachedDatasets(spark)
        .sortBy(_._1)
        .map { case (n, p, lvl, loaded, sz) => Row(n, p, lvl, loaded, sz) })

  /** One row per materialized cached RDD with its block-level footprint
    * (reference cache.objects). */
  def sysCacheObjects(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("rdd_id", IntegerType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("storage_level", StringType, nullable = false),
      StructField("cached_partitions", IntegerType, nullable = false),
      StructField("total_partitions", IntegerType, nullable = false),
      StructField("mem_bytes", LongType, nullable = false),
      StructField("disk_bytes", LongType, nullable = false))),
      () => spark.sparkContext.getRDDStorageInfo.toSeq.sortBy(_.id).map(i =>
        Row(i.id, i.name, i.storageLevel.description, i.numCachedPartitions,
          i.numPartitions, i.memSize, i.diskSize)))

  /** Local directories cache/spill blocks land on, with capacity
    * (reference cache.mount_points). `scope` is explicit about WHOSE
    * filesystem is being described: this view stats paths on the DRIVER
    * (= every executor in local mode, the deployment this engine tests
    * on); a multi-host cluster's executors resolve their dirs from
    * per-host env (SPARK_LOCAL_DIRS / yarn local-dirs), which no driver
    * API exposes — rows for remote hosts would be fabrications. */
  def sysCacheMountPoints(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("scope", StringType, nullable = false),
      StructField("mount_point_path", StringType, nullable = false),
      StructField("exists", BooleanType, nullable = false),
      StructField("total_space_bytes", LongType, nullable = false),
      StructField("usable_space_bytes", LongType, nullable = false))),
      () => {
        val conf = spark.sparkContext.getConf
        val dirs = conf.getOption("spark.local.dir")
          .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
          .getOrElse(System.getProperty("java.io.tmpdir"))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
        val scope = if (spark.sparkContext.isLocal) "driver+executors(local)"
                    else "driver"
        dirs.sorted.map { d =>
          val f = new java.io.File(d)
          Row(scope, d, f.exists(), f.getTotalSpace, f.getUsableSpace)
        }
      })

  /** Cache capacity/occupancy per storage tier (reference
    * cache.storage_plugins): the Spark cache is ONE plugin here, with
    * occupancy from the block manager and headroom from the executors'
    * storage memory. */
  def sysCacheStoragePlugins(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("storage_plugin_name", StringType, nullable = false),
      StructField("cached_objects", LongType, nullable = false),
      StructField("approx_size_bytes", LongType, nullable = false),
      StructField("max_available_memory_bytes", LongType, nullable = false))),
      () => {
        val infos = spark.sparkContext.getRDDStorageInfo
        val remaining = spark.sparkContext.getExecutorMemoryStatus
          .values.map(_._2).sum
        Seq(Row("spark-cache", infos.length.toLong,
          infos.map(i => i.memSize + i.diskSize).sum, remaining))
      })

  def sysServices(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("service", StringType, nullable = false),
      StructField("port", IntegerType, nullable = false),
      StructField("started_ms", LongType, nullable = false))),
      () => graft.server.Services.list.map(s => Row(s.name, s.port, s.startedMs)))

  /** sys.boot (reference BootStrapContext options): the STATIC SparkConf
    * the context booted with — frozen at startup, unlike sys_options'
    * live session conf. */
  def sysBoot(spark: SparkSession): DataFrame =
    live(spark, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("value", StringType, nullable = true))),
      () => {
        // Spark's own redaction default — anything narrower would leak
        // values Spark itself masks in its UI/logs
        val redact = spark.sparkContext.getConf
          .get("spark.redaction.regex", "(?i)secret|password|token|access[.]key").r
        spark.sparkContext.getConf.getAll.toSeq.sortBy(_._1).map { case (k, v) =>
          Row(k, if (redact.findFirstIn(k).isDefined) "***" else v)
        }
      })

  /** sys.timezone_names + sys.timezone_abbreviations (reference
    * TimezoneNames/TimezoneAbbreviations static tables). DERIVED from
    * `java.time` (zone rules at a fixed instant pair — Jan/Jul 2024 — so
    * both standard and DST forms appear), not a copied literal table. */
  def sysTimezoneNames(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import java.time._
    val jan = Instant.parse("2024-01-15T00:00:00Z")
    val jul = Instant.parse("2024-07-15T00:00:00Z")
    ZoneId.getAvailableZoneIds.toArray(Array.empty[String]).toSeq.sorted.map { zid =>
      val z = ZoneId.of(zid)
      val rules = z.getRules
      def off(i: Instant) = rules.getOffset(i).getId.replace("Z", "+00:00")
      (zid, off(jan), off(jul),
        rules.isDaylightSavings(jan) || rules.isDaylightSavings(jul))
    }.toDF("name", "offset_jan", "offset_jul", "observes_dst")
  }

  def sysTimezoneAbbreviations(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import java.time._
    import java.time.format.TextStyle
    import java.util.Locale
    val jan = ZonedDateTime.ofInstant(Instant.parse("2024-01-15T00:00:00Z"), ZoneOffset.UTC)
    val jul = ZonedDateTime.ofInstant(Instant.parse("2024-07-15T00:00:00Z"), ZoneOffset.UTC)
    val rows = ZoneId.getAvailableZoneIds.toArray(Array.empty[String]).toSeq.flatMap { zid =>
      val z = ZoneId.of(zid)
      Seq(jan, jul).flatMap { t =>
        // only the per-INSTANT resolved short name (CET in January, CEST
        // in July): a zone's fixed standalone abbreviation paired with a
        // DST-instant offset would fabricate rows like (CET, +02:00)
        val at = t.withZoneSameInstant(z)
        val resolved = at.format(java.time.format.DateTimeFormatter.ofPattern("zzz", Locale.US))
        val dst = z.getRules.isDaylightSavings(at.toInstant)
        val off = z.getRules.getOffset(at.toInstant).getId.replace("Z", "+00:00")
        Some(resolved).filter(a => a.nonEmpty && !a.startsWith("GMT") && !a.contains("/"))
          .map(a => (a, off, dst))
      }
    }.distinct.sortBy(r => (r._1, r._2))
    rows.toDF("abbreviation", "offset", "is_dst")
  }

  /** Register all introspection views (and start recording query history
    * for this session, if not already). */
  def register(spark: SparkSession): Unit = {
    QueryHistory.install(spark)
    StreamHistory.install(spark)
    tables(spark).createOrReplaceTempView("information_schema_tables")
    columns(spark).createOrReplaceTempView("information_schema_columns")
    sysOptions(spark).createOrReplaceTempView("sys_options")
    sysNodes(spark).createOrReplaceTempView("sys_nodes")
    sysReflections(spark).createOrReplaceTempView("sys_reflections")
    sysPipes(spark).createOrReplaceTempView("sys_pipes")
    sysStreams(spark).createOrReplaceTempView("sys_streams")
    sysStreamProgress(spark).createOrReplaceTempView("sys_stream_progress")
    sysFunctions(spark).createOrReplaceTempView("sys_functions")
    sysQueries(spark).createOrReplaceTempView("sys_queries")
    sysJoinAnalysis(spark).createOrReplaceTempView("sys_join_analysis")
    sysQueues(spark).createOrReplaceTempView("sys_queues")
    sysRunningQueries(spark).createOrReplaceTempView("sys_running_queries")
    sysResultCache(spark).createOrReplaceTempView("sys_result_cache")
    sysPlanCache(spark).createOrReplaceTempView("sys_plan_cache")
    sysCodegen(spark).createOrReplaceTempView("sys_codegen")
    sysFileMetadata(spark).createOrReplaceTempView("sys_file_metadata")
    sysPreparedStatements(spark).createOrReplaceTempView("sys_prepared_statements")
    sysRoutingRules(spark).createOrReplaceTempView("sys_routing_rules")
    sysPrivileges(spark).createOrReplaceTempView("sys_privileges")
    sysPolicies(spark).createOrReplaceTempView("sys_policies")
    sysUsers(spark).createOrReplaceTempView("sys_users")
    sysRoles(spark).createOrReplaceTempView("sys_roles")
    sysSources(spark).createOrReplaceTempView("sys_sources")
    sysScripts(spark).createOrReplaceTempView("sys_scripts")
    sysVersion(spark).createOrReplaceTempView("sys_version")
    sysMemory(spark).createOrReplaceTempView("sys_memory")
    sysThreads(spark).createOrReplaceTempView("sys_threads")
    sysMaterializations(spark).createOrReplaceTempView("sys_materializations")
    sysRefreshes(spark).createOrReplaceTempView("sys_refreshes")
    sysDependencies(spark).createOrReplaceTempView("sys_dependencies")
    sysMembership(spark).createOrReplaceTempView("sys_membership")
    sysTimezoneNames(spark).createOrReplaceTempView("sys_timezone_names")
    sysTimezoneAbbreviations(spark).createOrReplaceTempView("sys_timezone_abbreviations")
    sysServices(spark).createOrReplaceTempView("sys_services")
    sysBoot(spark).createOrReplaceTempView("sys_boot")
    sysTableStatistics(spark).createOrReplaceTempView("sys_table_statistics")
    sysFragments(spark).createOrReplaceTempView("sys_fragments")
    sysCacheDatasets(spark).createOrReplaceTempView("sys_cache_datasets")
    sysCacheObjects(spark).createOrReplaceTempView("sys_cache_objects")
    sysCacheMountPoints(spark).createOrReplaceTempView("sys_cache_mount_points")
    sysCacheStoragePlugins(spark).createOrReplaceTempView("sys_cache_storage_plugins")
  }
}

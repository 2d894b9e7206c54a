package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression bridge. Spark 4 made these converters
  * `private[sql]`; extension libraries conventionally expose them from a
  * package-nested object (no Spark internals are modified).
  */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly convert a DSL-composed Column into a plain catalyst tree
    * (UnresolvedFunction nodes the analyzer then resolves). `expression`
    * above returns a lazy ColumnNode wrapper, which is fine as a child
    * HANDED to a custom expression but never resolves when RETURNED from a
    * FunctionRegistry builder — this converter is the registry-safe path. */
  def toCatalyst(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** DataFrame from a logical plan (`Dataset.ofRows` is `private[sql]`). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The QueryExecution an SQL-execution-end event reports (`qe` is
    * `private[sql]`); null when the event was posted without one. */
  def executionOf(end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : org.apache.spark.sql.execution.QueryExecution = end.qe

  /** A listener-bus event no Spark component consumes and the event log
    * skips. Posting one orders a driver-side step against the bus's other
    * events: listeners see it after every event posted before it. */
  final case class Mark(id: Long) extends org.apache.spark.scheduler.SparkListenerEvent {
    override protected[spark] def logEvent: Boolean = false
  }

  /** Post `e` to every listener (`listenerBus` is `private[spark]`). */
  def post(sc: org.apache.spark.SparkContext,
           e: org.apache.spark.scheduler.SparkListenerEvent): Unit = sc.listenerBus.post(e)

  /** The session's identity (`sessionUUID` is `private[sql]`). */
  def sessionId(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Deep-nullable copy of a schema (`StructType.asNullable` is
    * `private[spark]`); file sources read absent columns as NULL, so their
    * data schema must not claim NOT NULL. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** The planning artifact behind a DataFrame — its QueryExecution (which
    * memoizes analyzed/optimized/executedPlan) and row encoder (both
    * `private[sql]`). The plan cache stores THESE rather than the Dataset:
    * every caller gets a fresh wrapper from [[datasetOf]], so abandoning a
    * statement's Dataset still lets the running-statement ledger's GC
    * backstop reap it (and free its queue slot) while the plan stays
    * cached. */
  def planArtifact(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.execution.QueryExecution, AnyRef) = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    (ds.queryExecution, ds.exprEnc)
  }

  /** A QueryExecution owned by `session` that delegates every planning
    * phase to `src` (whose LazyTry fields memoize them) — the phases are
    * shared, the OWNERSHIP is rebound. Spark's ExecutionListenerBus
    * delivers onSuccess/onFailure only for QueryExecutions whose
    * `sparkSession` is the listening session's own, so a cached plan
    * served to a DIFFERENT session (the plan cache's primary case: wire
    * front ends clone a session per statement) must be rebound or the
    * calling session's listeners (query history) never see it. */
  private final class ReboundQueryExecution(
      session: classic.SparkSession,
      src: org.apache.spark.sql.execution.QueryExecution)
    extends org.apache.spark.sql.execution.QueryExecution(
      session, src.logical, src.tracker, src.mode, src.shuffleCleanupMode) {
    override def analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = src.analyzed
    override def commandExecuted: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = src.commandExecuted
    override def normalized: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = src.normalized
    override def withCachedData: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = src.withCachedData
    override def optimizedPlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = src.optimizedPlan
    override def sparkPlan: org.apache.spark.sql.execution.SparkPlan = src.sparkPlan
    override def executedPlan: org.apache.spark.sql.execution.SparkPlan = src.executedPlan
  }

  /** Fresh Dataset sharing an existing QueryExecution's memoized planning
    * phases, owned by `spark` (rebound when the artifact came from a
    * different session — see [[ReboundQueryExecution]]); the wrapper
    * itself is caller-owned. `enc` must come from [[planArtifact]]. */
  def datasetOf(spark: org.apache.spark.sql.SparkSession,
                qe: org.apache.spark.sql.execution.QueryExecution,
                enc: AnyRef): org.apache.spark.sql.DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val bound = if (qe.sparkSession eq s) qe else new ReboundQueryExecution(s, qe)
    new classic.Dataset[org.apache.spark.sql.Row](bound,
      enc.asInstanceOf[org.apache.spark.sql.Encoder[org.apache.spark.sql.Row]])
  }

  /** Run the statement's own physical plan once inside one SQL execution,
    * as `Dataset.withAction` runs an action: metrics reset first (a re-run
    * plan-cache hit does not add to the last run's), internal errors
    * wrapped as Spark wraps them. Every job `run` starts carries the
    * execution's id, so the running-statement ledger attributes, cancels
    * and retires the statement. The execution is named `action`, so the
    * session's QueryExecutionListeners (query history) see it, unless the
    * statement is an eager command's result: that ran, and was recorded,
    * when it was built (`QueryExecution.withInternalError` is
    * `private[sql]`). */
  private def runOnce[T](qe: org.apache.spark.sql.execution.QueryExecution, action: String)
                        (run: org.apache.spark.sql.execution.SparkPlan => T): T = {
    import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
    val name = if (qe.commandExecuted.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.CommandResult]) None else Some(action)
    SQLExecution.withNewExecutionId(qe, name) {
      QueryExecution.withInternalError(s"""The "$action" action failed.""") {
        val plan = qe.executedPlan
        plan.resetMetrics()
        run(plan)
      }
    }
  }

  /** The first `n` rows of `df` as the JSON objects
    * `df.limit(n).toJSON.collect()` returns, from one [[runOnce]] of the
    * statement's own plan (`executeTake(n)`), rendered with the generator
    * and options `Dataset.toJSON` uses. No second Dataset is built, so a
    * plan-cache hit is not re-analyzed, re-optimized, re-planned or
    * re-code-generated (`Dataset` and `JacksonGenerator` are
    * `private[sql]`). A result that cannot exceed `n` rows (`LIMIT k`
    * with k ≤ n, `ORDER BY … LIMIT k`, a global aggregate) is collected
    * whole instead: the limit operators implement only `executeCollect`,
    * and `executeTake` would shuffle them into one partition first. */
  def takeJson(df: org.apache.spark.sql.DataFrame, n: Int): Array[String] = {
    import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val qe = ds.queryExecution
    val rows = runOnce(qe, "collect") { plan =>
      if (qe.optimizedPlan.maxRows.exists(_ <= n)) plan.executeCollect() else plan.executeTake(n)
    }
    val writer = new java.io.CharArrayWriter()
    val gen = new JacksonGenerator(ds.exprEnc.schema, writer, new JSONOptions(
      Map.empty[String, String], ds.sparkSession.sessionState.conf.sessionLocalTimeZone))
    try rows.map { r =>
      writer.reset()
      gen.write(r)
      gen.flush()
      writer.toString
    } finally gen.close()
  }

  /** The result of `df` as encapsulated Arrow IPC RecordBatch messages
    * ([continuation][len][flatbuffer][body] framing), handed to `emit` in
    * result order from one [[runOnce]] of the statement's own plan named
    * `action`. The executors build the batches (`Dataset.toArrowBatchRdd`
    * is `private[sql]`); one job per partition brings them to the driver,
    * so it holds one partition's batches at a time, never the result. */
  def runArrow(df: org.apache.spark.sql.DataFrame, action: String)
              (emit: Array[Byte] => Unit): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    runOnce(ds.queryExecution, action) { plan =>
      val batches = ds.toArrowBatchRdd(plan)
      (0 until batches.getNumPartitions).foreach { p =>
        batches.sparkContext.runJob(batches, (it: Iterator[Array[Byte]]) => it.toArray, Seq(p))
          .foreach(_.foreach(emit))
      }
    }
  }

  /** `df.createOrReplaceTempView(name)` without running it as a command:
    * the same view relation lands in the session catalog, but no SQL
    * execution starts, so a registration repeated per request leaves no
    * query-history row (`ViewHelper` and `sessionState` are
    * `private[sql]`). */
  def replaceTempView(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val catalog = ds.sparkSession.sessionState.catalog
    val plan = ds.queryExecution.analyzed
    catalog.createTempView(name,
      org.apache.spark.sql.execution.command.ViewHelper.createTemporaryViewRelation(
        org.apache.spark.sql.catalyst.TableIdentifier(name), ds.sparkSession, true,
        catalog.getRawTempView, None, plan, plan, Nil),
      overrideIfExists = true)
  }

  /** Session Hadoop configuration (sessionState is `private[sql]`). */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** The session Hadoop configuration in a task-shippable wrapper
    * (`SerializableConfiguration` is `private[spark]`). An executor-side
    * `new Configuration()` loads only the classpath defaults and silently
    * drops every `spark.hadoop.*` setting — S3/GCS credentials, the
    * default FS — so any closure that opens a FileSystem must capture one
    * of these instead. */
  def serializableHadoopConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(hadoopConf(spark))

  /** Spark's bucket-file naming scheme (`BucketingUtils` is `private[sql]`):
    * a data file named `..._00003.parquet` belongs to bucket 3. Writing
    * these names is what lets a scan attach a `BucketSpec` and report
    * `HashPartitioning` — the DSv1 bucketed-read contract. */
  def bucketId(fileName: String): Option[Int] =
    org.apache.spark.sql.execution.datasources.BucketingUtils.getBucketId(fileName)
  def bucketSuffix(id: Int): String =
    org.apache.spark.sql.execution.datasources.BucketingUtils.bucketIdToString(id)

  /** A fresh spill file under Spark's configured local directories
    * (`spark.local.dir` via the executor's DiskBlockManager) rather than
    * `java.io.tmpdir`: on clusters tmpdir is often a small root volume, and
    * DiskBlockManager files are reaped with the executor's work directory
    * even when the JVM is killed (deleteOnExit never fires then). Falls
    * back to a plain temp file when no SparkEnv exists (driver-less unit
    * code paths). */
  /** Drain the listener bus (`private[spark]`) — lets specs assert on
    * job-count listeners without racing event delivery. */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Spark CacheManager contents (`private[sql]`) — the engine's
    * columnar-cache registry, backing the sys cache views: one row per
    * cached plan as (cached_name, plan_node, storage_level, loaded,
    * approx_size_bytes). Reading NEVER forces materialization (sizes are
    * the relation's stats estimate until buffers load). */
  def cachedDatasets(spark: org.apache.spark.sql.SparkSession)
      : Seq[(String, String, String, Boolean, Long)] = {
    val cm = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    // Spark 4 dropped the package-private accessor — the registry is a
    // plain private IndexedSeq field; read it reflectively (driver-only,
    // metadata-sized)
    val m = cm.getClass.getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(cm)
      .asInstanceOf[scala.collection.immutable.IndexedSeq[
        org.apache.spark.sql.execution.CachedData]]
      .toSeq.map { cd =>
        val rel = cd.cachedRepresentation
        val b = rel.cacheBuilder
        (b.cachedName, cd.plan.nodeName, b.storageLevel.description,
          b.isCachedColumnBuffersLoaded,
          rel.computeStats().sizeInBytes
            .min(BigInt(Long.MaxValue)).toLong)
      }
  }

  /** Arrow schema of a DataFrame's result, using the session's timezone
    * and large-var-types settings (both `private[sql]` conf entries) so
    * the schema agrees bit-for-bit with the batches
    * [[runArrow]] produces. */
  def arrowSchema(df: org.apache.spark.sql.DataFrame)
      : org.apache.arrow.vector.types.pojo.Schema = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val conf = ds.sparkSession.sessionState.conf
    org.apache.spark.sql.util.ArrowUtils.toArrowSchema(
      ds.schema, conf.sessionLocalTimeZone,
      errorOnDuplicatedFieldNames = true, largeVarTypes = conf.arrowUseLargeVarTypes)
  }

  /** Inverse of [[runArrow]]: decode an Arrow IPC stream (framed
    * schema + record-batch messages, in chunks) into a local DataFrame
    * (`ArrowConverters.fromIPCStream` is `private[sql]`). The rows
    * materialize on the driver — the same contract as Spark Connect's
    * local-relation uploads — so callers cap the accepted byte volume;
    * the subsequent write distributes normally. */
  def dataFrameFromIPCStream(spark: org.apache.spark.sql.SparkSession,
                             chunks: Iterator[Array[Byte]])
      : org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    val all = new java.io.ByteArrayOutputStream()
    chunks.foreach(all.write)
    val allocator = org.apache.spark.sql.util.ArrowUtils.rootAllocator
      .newChildAllocator("graftFromIPCStream", 0, Long.MaxValue)
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(all.toByteArray), allocator)
    try {
      val root = reader.getVectorSchemaRoot
      val schema = org.apache.spark.sql.util.ArrowUtils.fromArrowSchema(root.getSchema)
      val rows = Vector.newBuilder[org.apache.spark.sql.catalyst.InternalRow]
      while (reader.loadNextBatch()) {
        val cols = root.getFieldVectors.asScala
          .map(v => new org.apache.spark.sql.vectorized.ArrowColumnVector(v)
            : org.apache.spark.sql.vectorized.ColumnVector).toArray
        val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(cols, root.getRowCount)
        batch.rowIterator().asScala.foreach(r => rows += r.copy())
      }
      ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
        rows.result()))
    } finally {
      reader.close()
      allocator.close()
    }
  }

  /** One-shot materializing copy of a micro-batch DataFrame for a v1
    * streaming Sink: `addBatch`'s argument wraps the micro-batch's
    * IncrementalExecution, and handing it to a writer would re-plan the
    * streaming logical plan as a batch query. The v1-sink convention
    * (Spark's own MemorySink/console path) is to consume
    * `queryExecution.toRdd` and rewrap — the batch executes exactly once,
    * through the plan the stream engine already built. */
  def materializedCopy(data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = data.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd.map(_.copy()), ds.schema, isStreaming = false)
  }

  /** Flag a batch-built DataFrame as a streaming micro-batch: the v1
    * Source contract asserts `isStreaming` on the plan getBatch returns.
    * File-backed scans keep their ENTIRE lazy plan (pushdown, pruning,
    * vectorized parquet) — only the LogicalRelation leaves are re-flagged,
    * the same shape Delta's source produces; plans with no such leaf
    * (empty LocalRelation batches) fall back to wrapping the executed RDD. */
  def asStreaming(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    var changed = false
    val marked = ds.queryExecution.analyzed.transform {
      case lr: LogicalRelation if !lr.isStreaming =>
        changed = true
        lr.copy(isStreaming = true)
    }
    if (changed) ofRows(ds.sparkSession, marked)
    else ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd.map(_.copy()), ds.schema, isStreaming = true)
  }

  /** [[asStreaming]] for batch plans holding joins/set-ops/aggregates
    * (e.g. a CDC multiset diff): re-flagging their LEAVES would make the
    * streaming planner treat those operators as stateful-across-batches
    * (state-store-backed), which a per-batch-computed diff is not. The
    * whole batch plan stays a BATCH plan compiled once here; only its
    * result RDD — still computed distributed, never on the driver — is
    * wrapped as the streaming micro-batch. */
  def asStreamingOpaque(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd.map(_.copy()), ds.schema, isStreaming = true)
  }

  /** The running streaming query's stable id (constant across restarts
    * from the same checkpoint — StreamExecution publishes it as a local
    * property on every micro-batch thread). The identity a streaming sink
    * needs for idempotent commit tags. */
  def streamingQueryId(spark: org.apache.spark.sql.SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY))

  def createLocalSpillFile(): java.io.File = {
    val env = org.apache.spark.SparkEnv.get
    if (env != null && env.blockManager != null)
      env.blockManager.diskBlockManager.createTempLocalBlock()._2
    else java.io.File.createTempFile("graft_spill", ".run")
  }
}

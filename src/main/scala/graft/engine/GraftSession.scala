package graft.engine

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference coordinator's planner/executor defaults in Spark
  * terms (reference: dremio-oss `sabot/kernel/.../ExecConstants.java` — batch
  * sizing, spill, slice targets — all of which Spark supplies natively):
  *  - AQE on: runtime re-planning ≈ Dremio's adaptive batch sizing + runtime
  *    parallelism choice (`planner.slice_target`).
  *  - Runtime bloom-filter join filters ≈ Dremio's runtime filter pushdown
  *    (`sabot/op/join/vhash/PartitionColFilters.java:78`).
  *  - CBO + histogram stats ≈ `services/statistics` + `exec/planner/cost`.
  *  - UTC session timezone: Dremio TIMESTAMP is tz-less millis
  *    (`CompleteType.java:162`); UTC makes Spark µs timestamps line up.
  *
  * Scale note: these settings are sized for local[32] testing but the shape
  * (AQE, skew-join handling, bloom filters, broadcast thresholds) is exactly
  * what a 1000-executor deployment would use; only `shuffle.partitions`
  * and memory move with cluster size.
  */
object GraftSession {

  // Per-JVM embedded Hive metastore (derby) + warehouse. Unique per process:
  // embedded derby is single-JVM, and concurrent test/Verify JVMs must not
  // share a lock. The metastore spins up lazily on first Hive-catalog use.
  private lazy val metastoreDir =
    java.nio.file.Files.createTempDirectory("graft_metastore").toString

  /** Modules Spark 4.x + Arrow must be able to reflect into on JDK 17+.
    * spark-submit and build.sbt inject the matching `--add-opens` flags; a
    * raw `java -cp … graft.Bench` without them dies much later with an
    * opaque `ExceptionInInitializerError` in Arrow's MemoryUtil (first
    * Arrow/Hive touch), so fail fast here with the exact flags instead. */
  private def assertModuleOpens(): Unit = {
    val required = Seq(
      "java.lang", "java.lang.invoke", "java.io", "java.net", "java.nio",
      "java.util", "java.util.concurrent", "sun.nio.ch", "sun.security.action")
    val base = classOf[Object].getModule
    val unnamed = getClass.getClassLoader.getUnnamedModule
    val missing = required.filterNot(p => base.isOpen(p, unnamed))
    if (missing.nonEmpty) {
      val flags = missing.map(p => s"--add-opens=java.base/$p=ALL-UNNAMED").mkString(" ")
      throw new IllegalStateException(
        s"""JVM is missing module opens required by Spark/Arrow on JDK 17+.
           |Restart the JVM with: $flags
           |(spark-submit and sbt add these automatically; a bare `java -cp`
           |launch must pass them — see scripts/run-main.sh).""".stripMargin)
    }
  }

  /** `spark.sql.codegen.cache.maxEntries` for every graft session. */
  val CodegenCacheEntries = 1000

  /** Common config applied to every session (Verify, Bench, tests, REPL). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    assertModuleOpens()
    // Reserve the network endpoint's port before the context exists —
    // Spark snapshots hive.* system properties into the Hadoop conf at
    // SparkContext creation, and GraftServer can only bind the port that
    // snapshot carries (see GraftServer.reservePort scaladoc).
    graft.server.GraftServer.reservePort()
    b
    // Extensions ride in the CONF (not builder.withExtensions): sessions
    // materialized by other front ends over the same context — Spark
    // Connect's isolated per-client sessions, a Thrift session built from
    // scratch — read spark.sql.extensions at creation and get the graft
    // parser/rules; a builder-instance extension would be invisible to them.
    .config("spark.sql.extensions", "graft.sqlext.GraftExtensions")
    // Spark Connect gRPC endpoint: ephemeral port, bound only when
    // GraftConnectServer.start is called (conf must be in the context's
    // conf before that).
    .config("spark.connect.grpc.binding.port", "0")
    // Hive-metastore federation (reference plugins/hive*): persistent-table
    // DDL/DML goes through a real HiveExternalCatalog backed by embedded
    // derby, the same embedded-metastore shape the reference CI uses.
    .enableHiveSupport()
    .config("javax.jdo.option.ConnectionURL",
      s"jdbc:derby:;databaseName=$metastoreDir/db;create=true")
    .config("spark.sql.warehouse.dir", s"$metastoreDir/warehouse")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // Co-bucketed lake tables whose bucket counts differ by a power-of-two
    // ratio (8 vs 4) still join shuffle-free: the larger side coalesces
    // buckets instead of both sides re-shuffling.
    .config("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
    // Let sorted bucketed scans CLAIM their per-file sort order so merge
    // joins skip the sort as well as the shuffle. Off by default because
    // it lists files at planning time — our bucketed scans are lake scans
    // whose file listing comes from the commit manifest (zero FS calls),
    // so the guard's cost concern doesn't apply.
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    .config("spark.sql.cbo.enabled", "true")
    .config("spark.sql.cbo.joinReorder.enabled", "true")
    // Dremio coerces promiscuously (varchar<->numeric in comparisons,
    // SURVEY §7.4); ANSI-off matches that contract.
    .config("spark.sql.ansi.enabled", "false")
    // Dimension tables (region/nation/customer/supplier/part at typical
    // star-schema ratios) stay broadcastable well past sf0.1.
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    // events.ts is parquet TIMESTAMP(NANOS) (TESTDATA fixture); Spark has no
    // nanosecond timestamp — read as long, Tables normalizes to µs NTZ.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    // Dremio has a first-class TIME type (CompleteType.java:160); Spark 4.1
    // gates its native TIME behind this flag (see functions.TimeConv for
    // the millis-of-day interchange convention).
    .config("spark.sql.timeType.enabled", "true")
    // TRIGGER PIPE reports rows from stream progress; the default ring
    // buffer keeps only 100 updates, which would undercount a large drain
    // (many micro-batches under AvailableNow)
    .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    .config("spark.sql.ui.explainMode", "formatted")
    // Compile each generated class once per process: the warm working set
    // of a repeated multi-query workload is ~120 classes (olap_batch), over
    // Spark's default of 100, so every pass evicted and re-compiled ~76 of
    // them. An entry pins its classes and their janino loader in metaspace,
    // ~62 KB measured for a join + aggregate stage (SCALING.md), so 1000
    // entries bound the cache at ~62 MB. Static conf: read once, when
    // Spark's CodeGenerator object first initialises.
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    // Jobs service is wire-first (reference LocalJobsService): EVERY
    // session over this context — Thrift, Connect, REST, Flight clones
    // included — instantiates the history listener at creation, so their
    // statements land in the sys_queries ring with their principals.
    .config("spark.sql.queryExecutionListeners",
      "graft.catalog.QueryHistoryListener")
  }

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    shareTaskClassLoader(s)
    graft.functions.Functions.registerAll(s)
    graft.catalog.QueryHistory.install(s)
    // Reload the durable control plane BEFORE anything serves: users/
    // roles/grants enforce again, saved scripts run, named sources
    // resolve, pipes trigger against their existing checkpoints and
    // reflection goals reattach — the reference reloads its KV store the
    // same way at coordinator start (services/datastore).
    graft.catalog.GraftStore.loadAll(s)
    s
  }

  // The capture task writes its thread's loader here: a local executor
  // shares the driver's JVM.
  private val taskLoader = new AtomicReference[ClassLoader]()

  /** Give driver threads the class loader local task threads run under.
    *
    * Spark's codegen cache keys each class by (context class loader,
    * source). A local executor runs its tasks under its own
    * `MutableURLClassLoader` over the same class path, so a stage that
    * `WholeStageCodegenExec` compiles on a driver thread (its fallback
    * check) was compiled again, identical, on the task thread. Installing
    * the task loader on the thread that opened the session — whose later
    * threads (AQE exchange pools, REST and Flight pools) inherit it —
    * makes both compiles one cache entry.
    *
    * Only in local mode, and only when that loader delegates to the
    * opener's current one, so every class the opener resolved still
    * resolves the same; otherwise the thread is left as it is. Cluster
    * executors are other JVMs: their compiles never shared the driver's
    * cache. Call once, right after `getOrCreate`, on the opening thread. */
  def shareTaskClassLoader(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (sc.isLocal) {
      sc.runJob(sc.parallelize(Seq(0), 1),
        (_: Iterator[Int]) => taskLoader.set(Thread.currentThread.getContextClassLoader))
      val loader = taskLoader.getAndSet(null)
      val opener = Thread.currentThread
      if (Iterator.iterate(loader)(_.getParent).takeWhile(_ != null)
          .contains(opener.getContextClassLoader))
        opener.setContextClassLoader(loader)
    }
  }
}

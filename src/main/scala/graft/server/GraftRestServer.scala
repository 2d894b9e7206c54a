package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.SparkSession

/** REST SQL entry point: `POST /sql` with a JSON body `{"sql": "..."}`
  * returns the result as JSON rows — the reference's third protocol
  * surface (`dac/backend/src/main/java/com/dremio/dac/api/SQLResource
  * .java:81`, `POST /api/v3/sql`). JDK-only (`com.sun.net.httpserver`),
  * no servlet container.
  *
  * Response shape mirrors the reference's `QueryResultData`:
  * `{"rowCount": N, "schema": [{"name": ..., "type": ...}], "rows": [{col:
  * value, ...}]}`. Rows are capped (`limit` body field, default 500,
  * max 10k) — the REST surface is for tooling and small results; bulk
  * extraction belongs to the Arrow wire ([[GraftConnectServer]]).
  *
  * Each request executes on a CLONED session (`newSession` over the shared
  * context), so REST statements get isolated temp-view/conf state but the
  * same catalog, extensions, and cluster — the same isolation contract as
  * the Thrift and Connect front ends.
  */
object GraftRestServer {

  @volatile private var running: Option[HttpServer] = None
  @volatile private var boundPort: Option[Int] = None
  /** The session start() was given — registry I/O must read ITS conf
    * (per-request newSession() clones don't inherit runtime-set confs,
    * so saving through one would write a different registry file). */
  @volatile private var rootSession: Option[SparkSession] = None

  def start(spark: SparkSession): Int = synchronized {
    rootSession = Some(spark)
    boundPort.getOrElse {
      val srv = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
      srv.createContext("/sql", new SqlHandler(spark))
      srv.createContext("/catalog", new CatalogHandler(spark))
      srv.createContext("/jobs", new JobsHandler(spark))
      srv.createContext("/source", new SourceHandler(spark))
      // serve on a small pool: concurrent REST statements run like
      // concurrent Thrift statements (scheduler handles the rest)
      srv.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
      // reload the durable promotion registry BEFORE the port opens: a
      // restarted server must keep serving every promoted dataset (the
      // reference persists dataset configs in the namespace KV store),
      // and a request racing the reload must not see a half-registered
      // catalog
      loadRegistry(spark)
      // same contract for the rest of the control plane (grants, saved
      // scripts, named sources, pipes, reflection goals): a REST request
      // arriving the instant the port opens must already see them
      graft.catalog.GraftStore.loadAll(spark)
      srv.start()
      val p = srv.getAddress.getPort
      running = Some(srv)
      boundPort = Some(p)
      Services.note("rest", p)
      p
    }
  }

  def port: Option[Int] = boundPort

  def stop(): Unit = synchronized {
    Services.clear("rest")
    running.foreach(_.stop(0))
    running = None
    boundPort = None
    // drop in-memory state so the next start() is a genuine reload from
    // the durable registry (and a later session can't see stale plans)
    promotions.clear()
    promotedPlans.clear()
    schemaPins.clear()
    planEpoch.clear()
    fileListings.clear()
    refreshLocks.clear()
  }

  /** Promoted datasets (reference `CatalogResource.java:60` — format a
    * folder into a dataset): name → (path, format). `/sql` serves from
    * per-request session clones which see only the shared catalog, and a
    * persistent view cannot reference the session-injected scan TVFs, so
    * promotions re-register into each request session — a fresh scan per
    * request, which is also what keeps a promoted LAKE dataset reading
    * its current snapshot rather than a frozen file list. */
  private val promotions =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  /** Per-promotion plan cache keyed by the FULL promotion identity
    * (name, path, format) → (freshness key, plan). Lake promotions key
    * on the table's current version (so a commit re-resolves the
    * snapshot); parquet/delta pin the listing taken at promote time
    * (re-promote to refresh) — re-listing a folder per request would
    * make every /sql statement pay O(promotions) metadata I/O whether or
    * not it references them. Path+format in the KEY is load-bearing: a
    * re-promote to a different path races concurrent /sql requests
    * holding the old entry, and a stale name-keyed re-insert would serve
    * the OLD path's data forever after. The METADATA EPOCH in the key is
    * load-bearing the same way: a request that resolved the plan BEFORE a
    * schema-learning toggle / REFRESH METADATA can only re-insert under
    * the OLD epoch, which no post-toggle read matches (the Flight
    * GetTables epoch-key pattern — eviction is memory reclaim, never the
    * correctness mechanism). */
  private val promotedPlans = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String, Long),
    (Long, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)]()

  /** Per-name metadata epoch, bumped by every schema-learning toggle and
    * promotion refresh; part of the plan-cache key. */
  private val planEpoch =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Maintained file index for promoted PARQUET datasets (reference
    * "unlimited splits" metadata: `SqlRefreshDataset` maintains dataset
    * metadata in the KV store so planning never re-lists the source).
    * Scans plan from THIS listing — zero directory listings per query —
    * and `REFRESH DATASET FOR FILES|PARTITIONS|REGEX` patches it
    * incrementally: at a 100M-file dataset a full re-list is O(dataset)
    * remote metadata calls, a file-scoped refresh is O(changed). Lake and
    * delta promotions don't ride this map — their commit logs ARE the
    * file index. */
  private val fileListings =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[String]]()

  /** Per-dataset refresh serialization (reference
    * `errorOnConcurrentRefresh`): one refresh at a time per name; the
    * flag turns waiting into a loud refusal. */
  private val refreshLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  /** Directory listings performed (observability for the scale tier: a
    * file-scoped REFRESH must finish without bumping this — the whole
    * point of the maintained index is O(changed) metadata calls). */
  private[graft] val listingCount = new java.util.concurrent.atomic.AtomicLong()

  /** The maintained index size for a promoted dataset (test hook). */
  private[graft] def indexedFileCount(name: String): Int =
    Option(fileListings.get(name)).map(_.size).getOrElse(-1)

  /** Every visible data file under `path` (Hadoop FS, any scheme);
    * hidden files and hidden directories (`_`/`.` prefixes — _delta_log,
    * _SUCCESS, checkpoints) are skipped. */
  private def listDataFiles(spark: SparkSession, path: String): Vector[String] = {
    listingCount.incrementAndGet()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(org.apache.spark.sql.graft.Bridge.hadoopConf(spark))
    val rootStr = fs.makeQualified(root).toString
    def hiddenTail(p: String): Boolean =
      p.stripPrefix(rootStr).split('/')
        .exists(seg => seg.startsWith("_") || seg.startsWith("."))
    val out = Vector.newBuilder[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val s = st.getPath.toString
      if (st.isFile && !hiddenTail(s)) out += s
    }
    out.result().sorted
  }

  /** Drop every cached plan for `name` AND bump its epoch so an in-flight
    * request's stale re-insert can never match a future read. */
  private def evictPlans(name: String): Unit = {
    planEpoch.merge(name, java.lang.Long.valueOf(1L),
      (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
    promotedPlans.keySet.removeIf(_._1 == name)
  }

  /** Schema pins (reference `SqlAlterTableToggleSchemaLearning` +
    * `SqlAlterTableToggleSchemaLearningHandler` — schema learning is ON
    * by default for promoted physical datasets and DISABLE freezes the
    * dataset's schema): name → the schema captured at DISABLE time.
    * A pinned promotion projects exactly the pinned columns — drift adds
    * nothing, a since-removed column reads NULL — until ENABLE re-learns. */
  private val schemaPins =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** ALTER TABLE <name> ENABLE|DISABLE SCHEMA LEARNING over a promoted
    * dataset. DISABLE captures the current LEARNED schema as the pin;
    * ENABLE drops the pin. Durable through the promotion registry. */
  def setSchemaLearning(spark: SparkSession, name: String, on: Boolean): Unit = {
    val pf = promotions.get(name)
    require(pf != null, s"SCHEMA LEARNING: '$name' is not a promoted dataset")
    graft.auth.Privileges.requireAction(spark, "alter", pf._1,
      s"ALTER $name SCHEMA LEARNING")
    schemaPins.remove(name)
    evictPlans(name)
    if (!on)
      schemaPins.put(name, promotedDf(spark, name, pf._1, pf._2).schema)
    evictPlans(name)
    saveRegistry(rootSession.getOrElse(spark))
  }

  /** ALTER TABLE <name> FORGET METADATA (reference SqlForgetTable): drop
    * the promotion definition, keep the data — the SQL twin of
    * `DELETE /catalog/<name>`, sharing its DROP-on-name gate. */
  def forgetPromotion(spark: SparkSession, name: String): Unit = {
    require(promotions.containsKey(name),
      s"FORGET METADATA: '$name' is not a promoted dataset")
    graft.auth.Privileges.requireAction(spark, "drop", name,
      s"ALTER $name FORGET METADATA")
    promotions.remove(name)
    schemaPins.remove(name)
    fileListings.remove(name)
    evictPlans(name)
    rootSession.foreach(_.catalog.dropTempView(name))
    saveRegistry(rootSession.getOrElse(spark))
  }

  /** REFRESH METADATA over a promoted dataset (reference SqlRefreshDataset
    * re-profiles the promoted folder): drop its cached plans so the next
    * request re-lists the folder and — with schema learning on —
    * re-infers the schema. Returns whether `name` was a promotion. */
  def refreshPromotion(name: String): Boolean =
    if (promotions.containsKey(name)) {
      fileListings.remove(name) // full refresh: next plan re-lists
      evictPlans(name)
      true
    } else false

  /** REFRESH DATASET scope: which slice of the file index to reconcile. */
  sealed trait RefreshScope
  object RefreshScope {
    case object All extends RefreshScope
    final case class Files(names: Seq[String]) extends RefreshScope
    final case class Partitions(specs: Seq[(String, String)]) extends RefreshScope
    final case class Regex(pattern: String) extends RefreshScope
  }

  /** `REFRESH DATASET` (reference SqlRefreshDataset,
    * `parserImpls.ftl:1475` → the unlimited-splits incremental metadata
    * refresh): reconcile the maintained file index against the
    * filesystem and invalidate cached plans.
    *
    *  - bare / FOR ALL FILES / FOR ALL PARTITIONS — full re-list.
    *  - FOR FILES ('f', ...) — stat ONLY the named files (relative to
    *    the dataset root or absolute): present → enter the index,
    *    missing → dropped under DELETE WHEN MISSING (the default) or
    *    kept under MAINTAIN WHEN MISSING. O(changed), never O(dataset).
    *  - FOR PARTITIONS (col = 'v', ...) — re-list ONLY the hive-layout
    *    partition directory; entries outside the prefix are untouched.
    *  - FOR REGEX 'pat' — re-list, but only entries whose root-relative
    *    path matches the pattern are reconciled; non-matching survivors
    *    stay as indexed.
    *  - AUTO PROMOTION — a quoted path that isn't promoted yet is
    *    promoted first (format inferred), the reference's auto-promote.
    *  - FORCE UPDATE re-resolves the plan eagerly (the statement pays);
    *    default/LAZY UPDATE leaves the rebuild to the next query.
    *  - ERROR ON CONCURRENT REFRESH refuses if another refresh of the
    *    same dataset is in flight; default waits its turn.
    *
    * Returns (dataset, format, files_total, files_added, files_removed,
    * status). Lake/delta promotions carry their own log-backed file
    * index: any scoped form refuses, the bare form evicts cached plans. */
  def refreshDataset(spark: SparkSession, nameOrPath: String,
      scope: RefreshScope, autoPromotion: Option[Boolean],
      force: Option[Boolean], deleteWhenMissing: Option[Boolean],
      errorOnConcurrent: Boolean): (String, String, Int, Int, Int, String) = {
    val session = rootSession.getOrElse(spark)
    var name = nameOrPath
    var justPromoted = false
    var seeded: Option[Vector[String]] = None
    if (!promotions.containsKey(name)) {
      val isPath = nameOrPath.contains("/")
      if (autoPromotion.contains(true) && isPath) {
        // auto-promote the path: name = last segment, format inferred the
        // same way POST /catalog/promote infers
        val base = nameOrPath.stripSuffix("/")
        name = base.substring(base.lastIndexOf('/') + 1)
        require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"AUTO PROMOTION: folder name '$name' is not a valid dataset name")
        // the derived NAME may already be a dataset pointing elsewhere —
        // overwriting it here would hijack it (and serve its stale index)
        require(!promotions.containsKey(name),
          s"AUTO PROMOTION: dataset '$name' already exists — " +
            s"REFRESH DATASET $name to refresh it, or unpromote it first")
        graft.auth.Privileges.requireAction(spark, "alter", nameOrPath,
          "REFRESH DATASET AUTO PROMOTION")
        val fmt =
          if (graft.sources.SnapshotTable.isLakeTable(base)) "lake"
          else {
            val dl = new org.apache.hadoop.fs.Path(base, "_delta_log")
            val isDelta = try dl.getFileSystem(
              org.apache.spark.sql.graft.Bridge.hadoopConf(session))
              .getFileStatus(dl).isDirectory catch { case _: java.io.IOException => false }
            if (isDelta) "delta" else "parquet"
          }
        // VALIDATE BEFORE persisting (the POST /catalog/promote contract:
        // a bad folder is an error now, not a broken registry entry that
        // survives restarts) — for parquet this is also the ONE listing
        // the whole statement performs
        if (fmt == "parquet") {
          val listed = listDataFiles(session, base)
          require(listed.nonEmpty, s"AUTO PROMOTION: no data files under $base")
          seeded = Some(listed)
        }
        // putIfAbsent, not put: the containsKey probe above is check-then-
        // act across concurrent REFRESH DATASET statements (the per-name
        // refresh lock is only taken later, for parquet reconcile) — two
        // concurrent auto-promotions of different paths whose last segment
        // collides must not silently overwrite each other's registration
        if (promotions.putIfAbsent(name, (base, fmt)) != null)
          throw new IllegalArgumentException(
            s"AUTO PROMOTION: dataset '$name' already exists — " +
              s"REFRESH DATASET $name to refresh it, or unpromote it first")
        seeded.foreach(fileListings.put(name, _))
        // the dataset must be queryable from the surface that created it,
        // not only from later REST requests (POST /catalog/promote parity)
        try promotedDf(session, name, base, fmt).createOrReplaceTempView(name)
        catch { case e: Exception =>
          promotions.remove(name); fileListings.remove(name); throw e }
        saveRegistry(session)
        justPromoted = true
      } else throw new IllegalArgumentException(
        s"REFRESH DATASET: '$nameOrPath' is not a promoted dataset" +
          (if (isPath) " (add AUTO PROMOTION to promote the path)" else ""))
    }
    // auto-promotion was already gated on the PATH; an existing dataset
    // refreshes under ALTER on its name
    if (!justPromoted)
      graft.auth.Privileges.requireAction(spark, "alter", name, "REFRESH DATASET")
    val (path, fmt) = promotions.get(name)
    if (fmt != "parquet") {
      require(scope == RefreshScope.All,
        s"REFRESH DATASET FOR ...: '$name' is a $fmt dataset — its commit " +
          "log is the file index; only the bare form applies")
      evictPlans(name)
      try promotedDf(session, name, path, fmt).createOrReplaceTempView(name)
      catch { case _: Exception => () } // path since broken: surfaces on query
      return (name, fmt, -1, 0, 0, "log-backed dataset; cached plans evicted")
    }
    val lock = refreshLocks.computeIfAbsent(name,
      _ => new java.util.concurrent.locks.ReentrantLock())
    if (!lock.tryLock()) {
      if (errorOnConcurrent) throw new IllegalStateException(
        s"REFRESH DATASET: a concurrent refresh of '$name' is in flight " +
          "(ERROR ON CONCURRENT REFRESH)")
      lock.lock()
    }
    try {
      val qualify: String => String = f => {
        val p = new org.apache.hadoop.fs.Path(f)
        if (p.isAbsolute && f.contains(":/")) f
        else {
          val root = new org.apache.hadoop.fs.Path(path)
          val fs = root.getFileSystem(org.apache.spark.sql.graft.Bridge.hadoopConf(session))
          fs.makeQualified(new org.apache.hadoop.fs.Path(root, f)).toString
        }
      }
      // For a FULL reconcile the prior index is only the added/removed
      // report baseline — listing it via computeIfAbsent would make the
      // statement pay TWO O(dataset) walks; scoped forms genuinely need
      // the baseline as the carry-forward set
      val old: Vector[String] =
        if (scope == RefreshScope.All)
          // just-promoted: everything indexed counts as added
          (if (justPromoted) Vector.empty
           else Option(fileListings.get(name)).getOrElse(Vector.empty))
        else fileListings.computeIfAbsent(name, _ => listDataFiles(session, path))
      val rootQ = {
        val root = new org.apache.hadoop.fs.Path(path)
        root.getFileSystem(org.apache.spark.sql.graft.Bridge.hadoopConf(session))
          .makeQualified(root).toString
      }
      val next: Vector[String] = scope match {
        case RefreshScope.All =>
          // a just-auto-promoted dataset was listed during validation —
          // that listing IS this statement's reconcile
          seeded.getOrElse(listDataFiles(session, path))
        case RefreshScope.Files(names) =>
          val fs = new org.apache.hadoop.fs.Path(path)
            .getFileSystem(org.apache.spark.sql.graft.Bridge.hadoopConf(session))
          val drop = deleteWhenMissing.getOrElse(true)
          names.foldLeft(old) { (acc, n) =>
            val q = qualify(n)
            // an out-of-root file would brick every later scan (basePath
            // resolution) — refuse it here, at the statement that named it
            require(q == rootQ || q.startsWith(rootQ + "/"),
              s"REFRESH DATASET FOR FILES: '$n' resolves outside the " +
                s"dataset root $rootQ")
            if (fs.exists(new org.apache.hadoop.fs.Path(q)))
              if (acc.contains(q)) acc else (acc :+ q).sorted
            else if (drop) acc.filterNot(_ == q)
            else acc // MAINTAIN WHEN MISSING: keep the entry as indexed
          }
        case RefreshScope.Partitions(specs) =>
          val prefix = specs.map { case (c, v) => s"$c=$v" }
            .mkString(rootQ + "/", "/", "")
          val fresh = try listDataFiles(session, prefix)
                      catch { case _: java.io.FileNotFoundException => Vector.empty }
          (old.filterNot(_.startsWith(prefix + "/")) ++ fresh).sorted
        case RefreshScope.Regex(pat) =>
          val re = pat.r
          def matches(f: String): Boolean =
            re.findFirstIn(f.stripPrefix(rootQ).stripPrefix("/")).isDefined
          val fresh = listDataFiles(session, path).filter(matches)
          (old.filterNot(matches) ++ fresh).sorted
      }
      fileListings.put(name, next)
      evictPlans(name)
      // default/FORCE: the refresh IS the metadata job — rebuild the plan
      // and re-register the server-session temp view now (the view binds
      // a PLAN, not a name; without this, in-session readers keep the old
      // file set — REST request sessions re-register per request
      // regardless). LAZY UPDATE defers all of it to the next query.
      val lazyUp = force.contains(false)
      if (!lazyUp)
        try promotedDf(session, name, path, fmt).createOrReplaceTempView(name)
        catch { case _: Exception => () } // empty/broken set: surfaces on query
      val added = next.diff(old).size
      val removed = old.diff(next).size
      (name, fmt, next.size, added, removed,
        if (lazyUp) "refreshed; plan rebuilds on next query"
        else "refreshed; plan rebuilt")
    } finally lock.unlock()
  }

  /** The promoted dataset's resolved LOGICAL plan (session-independent —
    * a DataFrame binds to its creating session, so caching one would
    * register views into a dead request session). */
  private def promotedPlan(session: SparkSession, name: String, path: String,
      fmt: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val freshness = fmt match {
      case "lake" => graft.sources.SnapshotTable.forPath(session, path).latestVersion
      case _ => 0L
    }
    val key = (name, path, fmt,
      Option(planEpoch.get(name)).map(_.longValue()).getOrElse(0L))
    val cached = promotedPlans.get(key)
    if (cached != null && cached._1 == freshness) cached._2
    else {
      val learned = fmt match {
        case "lake" => graft.sources.SnapshotTable.forPath(session, path).read()
        case "delta" => graft.sources.DeltaInterop.scan(session, path)
        // mergeSchema: schema learning must see the union of drifted
        // footers, not whichever single file Spark samples first.
        // The scan plans from the MAINTAINED file index (listed once,
        // patched by REFRESH DATASET) — not a per-plan directory walk;
        // basePath keeps hive-layout partition columns on explicit-file
        // reads
        case _ =>
          val files = fileListings.computeIfAbsent(name,
            _ => listDataFiles(session, path))
          require(files.nonEmpty, s"promoted dataset '$name' has no data files " +
            s"under $path (REFRESH DATASET after files arrive)")
          session.read.option("mergeSchema", "true")
            .option("basePath", path).parquet(files: _*)
      }
      // a schema pin (DISABLE SCHEMA LEARNING) projects exactly the pinned
      // columns: drifted-in columns vanish, drifted-out columns read NULL
      val df = schemaPins.get(name) match {
        case null => learned
        case pinned =>
          val have = learned.schema.fieldNames.map(_.toLowerCase).toSet
          import org.apache.spark.sql.functions.{col, lit}
          learned.select(pinned.fields.toSeq.map { f =>
            if (have(f.name.toLowerCase)) col(f.name).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }: _*)
      }
      val plan = df.queryExecution.analyzed
      promotedPlans.put(key, (freshness, plan))
      plan
    }
  }

  /** Durable promotion registry: a flat JSON file rewritten on every
    * promote/unpromote and reloaded by [[start]] — a server restart must
    * not silently drop promoted datasets (the reference keeps dataset
    * configs in the namespace KV store, `services/namespace`). Location:
    * `spark.graft.rest.promotionsFile`, else
    * `<spark.sql.warehouse.dir>/graft_rest_promotions.json`. Hadoop FS
    * API throughout, so the registry can live beside the data on any
    * scheme. */
  private def registryPath(spark: SparkSession): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.getOption("spark.graft.rest.promotionsFile").getOrElse(
        spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
          "/graft_rest_promotions.json"))

  private def saveRegistry(spark: SparkSession): Unit =
    try {
      val p = registryPath(spark)
      val fs = p.getFileSystem(org.apache.spark.sql.graft.Bridge.hadoopConf(spark))
      val items = new java.util.ArrayList[String]()
      promotions.forEach { (name, pf) =>
        val pin = Option(schemaPins.get(name))
          .map(st => s""","schema":${q(st.toDDL)}""").getOrElse("")
        items.add(s"""{"name":${q(name)},"path":${q(pf._1)},"format":${q(pf._2)}$pin}""")
        ()
      }
      val body = s"""{"promotions":[${String.join(",", items)}]}"""
      val tmp = new org.apache.hadoop.fs.Path(
        p.getParent, p.getName + "." + java.util.UUID.randomUUID().toString.take(8) + ".tmp")
      val os = fs.create(tmp, true)
      try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
      // ATOMIC overwrite-rename via FileContext: the naive delete-then-
      // rename has a crash window that loses the whole registry (the one
      // artifact this feature exists to preserve), and FileSystem.rename
      // reports failure as a silent false
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        p.toUri, org.apache.spark.sql.graft.Bridge.hadoopConf(spark))
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      ()
    } catch {
      // registry durability is best-effort per request: the promotion is
      // live in memory either way, and the next successful save rewrites
      // the full map (rename failures now surface here instead of being
      // swallowed as a false return) — WARN so operators see the
      // durability gap before a restart loses it
      case e: java.io.IOException =>
        System.err.println(
          s"[graft-rest] WARN: promotion registry save failed: $e")
    }

  private def loadRegistry(spark: SparkSession): Unit =
    try {
      val p = registryPath(spark)
      val fs = p.getFileSystem(org.apache.spark.sql.graft.Bridge.hadoopConf(spark))
      if (!fs.exists(p)) return
      val in = fs.open(p)
      val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      promotions.clear()
      promotedPlans.clear()
      schemaPins.clear()
      val obj = ("""\{"name":"((?:[^"\\]|\\.)*)","path":"((?:[^"\\]|\\.)*)","format":"((?:[^"\\]|\\.)*)"""" +
        """(?:,"schema":"((?:[^"\\]|\\.)*)")?\}""").r
      obj.findAllMatchIn(body).foreach { m =>
        val (name, path, fmt) = (unq(m.group(1)), unq(m.group(2)), unq(m.group(3)))
        promotions.put(name, (path, fmt))
        Option(m.group(4)).foreach { ddl =>
          try schemaPins.put(name,
            org.apache.spark.sql.types.StructType.fromDDL(unq(ddl)))
          catch { case _: Exception => () } // an unparseable pin re-learns
        }
        // re-register on the server session; a since-deleted folder must
        // not block startup — it surfaces when queried (applyPromotions
        // skips it the same way)
        try promotedDf(spark, name, path, fmt).createOrReplaceTempView(name)
        catch { case _: Exception => () }
      }
    } catch { case _: java.io.IOException => () }

  private def promotedDf(session: SparkSession, name: String, path: String,
                         fmt: String): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.Bridge.ofRows(session,
      promotedPlan(session, name, path, fmt))

  /** Register every promoted dataset as a temp view on `session` (a
    * broken promotion — folder since deleted — must not take down
    * unrelated statements: it is skipped and surfaces when queried). The
    * registration runs no command, so it adds no history row to the
    * request's statement. */
  private[server] def applyPromotions(session: SparkSession): Unit =
    promotions.forEach { (name, pf) =>
      try org.apache.spark.sql.graft.Bridge.replaceTempView(
        promotedDf(session, name, pf._1, pf._2), name)
      catch { case _: Exception => () }
    }

  private final class SqlHandler(root: SparkSession) extends HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        if (ex.getRequestMethod != "POST") { respond(ex, 405, error("POST only")) }
        else {
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val sql = jsonField(body, "sql").getOrElse("")
          val limit = jsonField(body, "limit").map(_.toInt).getOrElse(500)
          val user = jsonField(body, "user")
          val password = jsonField(body, "password")
          // REST is stateless (a fresh session per request), so the
          // principal binds via optional body credentials rather than an
          // AUTHENTICATE statement on a long-lived connection
          if (sql.isEmpty) respond(ex, 400, error("missing \"sql\" field"))
          else Statements.open(root, Statements.Credentials(None, user, password),
              required = false) match {
            case Left(reason) => respond(ex, 400, error(reason))
            case Right(o) =>
              respond(ex, 200, run(o.session, sql, math.min(math.max(limit, 1), 10000)))
          }
        }
      } catch {
        case e: Exception => respond(ex, 400, error(e.toString.take(500)))
      } finally ex.close()

    /** The statement's first `limit` rows, from its own plan (a plan-cache
      * hit is run, not planned again), as `df.limit(limit).toJSON` renders
      * them. */
    private def run(session: SparkSession, sql: String, limit: Int): String = {
      // Graft.sql, not session.sql: a session conf `spark.graft.queue`
      // routes REST statements through WLM admission like any other
      val df = graft.Graft.sql(session, sql)
      val rows = org.apache.spark.sql.graft.Bridge.takeJson(df, limit)
      val schema = df.schema.fields.map(f =>
        s"""{"name":${q(f.name)},"type":${q(f.dataType.simpleString)}}""")
      s"""{"rowCount":${rows.length},"schema":[${schema.mkString(",")}],""" +
        s""""rows":[${rows.mkString(",")}]}"""
    }
  }

  /** The read-only catalog tree (reference
    * `dac/backend/src/main/java/com/dremio/dac/api/CatalogResource.java:60`
    * — `GET /api/v3/catalog[/{id}]`):
    *  - `GET /catalog` — datasets (grant-filtered while enforcement is
    *    on) + the reflection inventory;
    *  - `GET /catalog/<name>` — one dataset's field list, SELECT-gated;
    *  - `GET /catalog/lake?path=<dir>` — a lake table's version info
    *    (latest snapshot, branches/tags), SELECT-gated on the path.
    * Auth is a standard `Authorization: Basic` header; while enforcement
    * is on an absent/invalid header is 401 and an ungranted dataset 403 —
    * schema disclosure is a leak even when the read itself would refuse
    * (same rule as Flight's ListFlights). */
  /** Resolve the `Authorization: Basic` principal (shared by the catalog
    * and source handlers): Right(None) while enforcement is off; 401
    * Lefts for absent/malformed/invalid credentials while on. */
  private def basicPrincipal(root: SparkSession, ex: HttpExchange)
      : Either[(Int, String), Option[graft.auth.Privileges.User]] =
    if (!graft.auth.Privileges.enforcing) Right(None)
    else Option(ex.getRequestHeaders.getFirst("Authorization")) match {
      case Some(h) if !Statements.isBasic(h) =>
        Left(401 -> "unsupported authorization scheme (Basic only)")
      case h => Statements.open(root, Statements.Credentials(h), required = true)
        .map(_.principal).left.map(401 -> _)
    }

  /** `/source` — the reference's source-management REST surface
    * (`dac/.../SourceResource.java`: GET/PUT/DELETE per source; state in
    * the response). Delegates to [[graft.catalog.Sources]] (the SQL
    * CREATE/DROP SOURCE twin):
    *   GET    /source            → every registered source with state
    *   GET    /source/<name>     → one source, 404 unknown
    *   PUT    /source/<name>     → create-or-replace from a JSON body
    *                               {"type": "...", "url"|"path"|...: "..."}
    *   DELETE /source/<name>     → unregister
    *   POST   /source/<name>/refresh → re-probe (ALTER SOURCE ... REFRESH
    *                               STATUS over the wire)
    * Mutations and refresh are ADMIN-gated while enforcement is on (the
    * same contract as the SQL statements — sources are global infra);
    * GETs need any authenticated principal. */
  private final class SourceHandler(root: SparkSession) extends HttpHandler {
    /** Connection config (urls may embed credentials) is ADMIN-only —
      * the SQL twin (SHOW SOURCES/sys_sources) never exposes props, and
      * source mutations are admin-gated for the same reason. */
    private def sourceJson(s: graft.catalog.Sources.Source,
                           includeConfig: Boolean): String = {
      val base = s"""{"name":${q(s.name)},"type":${q(s.kind)},"status":${q(s.status)},""" +
        s""""message":${q(s.message)},"lastProbeMs":${s.lastProbeMs}"""
      if (!includeConfig) base + "}"
      else {
        val props = s.props.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")
        base + s""","config":{$props}}"""
      }
    }

    override def handle(ex: HttpExchange): Unit =
      try {
        basicPrincipal(root, ex) match {
          case Left((code, msg)) => respond(ex, code, error(msg))
          case Right(principal) =>
            val parts = ex.getRequestURI.getPath.stripPrefix("/source")
              .stripPrefix("/").split("/").filter(_.nonEmpty)
            val admin = !graft.auth.Privileges.enforcing || principal.exists(_.admin)
            (ex.getRequestMethod, parts.toList) match {
              case ("GET", Nil) =>
                respond(ex, 200, "{\"sources\":[" +
                  graft.catalog.Sources.list.map(sourceJson(_, admin))
                    .mkString(",") + "]}")
              case ("GET", name :: Nil) =>
                try respond(ex, 200,
                  sourceJson(graft.catalog.Sources.get(name), admin))
                catch { case _: IllegalArgumentException =>
                  respond(ex, 404, error(s"no source named '$name'")) }
              case ("PUT", name :: Nil) if !admin =>
                respond(ex, 403, error("source management requires an admin principal"))
              case ("PUT", name :: Nil) =>
                val body = new String(ex.getRequestBody.readAllBytes(),
                  StandardCharsets.UTF_8)
                val kind = jsonField(body, "type").getOrElse("")
                // config keys ride as flat top-level string fields
                val props = Seq("url", "driver", "path")
                  .flatMap(k => jsonField(body, k).map(k -> _)).toMap
                try {
                  // PUT is create-or-replace (SourceResource update):
                  // VALIDATE before touching the existing registration —
                  // a bad body must not destroy a working source
                  graft.catalog.Sources.validateConfig(kind, props)
                  // drop on ROOT (the session whose conf create() published
                  // to): runtime conf is per-session, so unsetting the old
                  // jdbc url/driver on a throwaway newSession() would leave
                  // the replaced connection live on the serving session
                  if (scala.util.Try(graft.catalog.Sources.get(name)).isSuccess)
                    graft.catalog.Sources.drop(root, name)
                  val s = graft.catalog.Sources.create(root, name, kind, props,
                    ifNotExists = false)
                  respond(ex, 200, sourceJson(s, admin))
                } catch { case e: Exception =>
                  respond(ex, 400, error(e.getMessage.take(300))) }
              case ("DELETE", name :: Nil) if !admin =>
                respond(ex, 403, error("source management requires an admin principal"))
              case ("DELETE", name :: Nil) =>
                try { graft.catalog.Sources.drop(root, name); respond(ex, 200, "{}") }
                catch { case _: IllegalArgumentException =>
                  respond(ex, 404, error(s"no source named '$name'")) }
              case ("POST", name :: "refresh" :: Nil) if !admin =>
                respond(ex, 403, error("source refresh requires an admin principal"))
              case ("POST", name :: "refresh" :: Nil) =>
                try respond(ex, 200,
                  sourceJson(graft.catalog.Sources.refreshStatus(root, name), admin))
                catch { case _: IllegalArgumentException =>
                  respond(ex, 404, error(s"no source named '$name'")) }
              case _ => respond(ex, 405, error("unsupported source operation"))
            }
        }
      } catch {
        case e: MalformedJson => respond(ex, 400, error(e.getMessage))
        case e: Exception => respond(ex, 500, error(e.getMessage.take(300)))
      }
  }

  private final class CatalogHandler(root: SparkSession) extends HttpHandler {

    /** `GET|POST /catalog/<name>/collaboration/wiki|tag` (reference
      * `CollaborationResource.java:40`): wiki text and tags with the
      * reference's optimistic version handshake — POST must present the
      * stored version (absent on first save); a stale version is 409.
      * GET needs SELECT visibility, POST needs ALTER (or admin) while
      * enforcement is on; an unknown dataset is 404 either way. */
    private def handleCollab(ex: HttpExchange,
                             principal: Option[graft.auth.Privileges.User],
                             name: String, kind: String): Unit = {
      val p = graft.auth.Privileges
      import org.apache.spark.sql.functions.col
      val exists = graft.catalog.InfoSchema.tables(root)
        .filter(col("table_name") === name).limit(1).count() > 0
      val verb = if (ex.getRequestMethod == "POST") "alter" else "select"
      val allowed = !p.enforcing || principal.exists(u =>
        u.admin || p.allowed(u, verb, p.normObj(name)))
      if (!allowed)
        respond(ex, 403, error(s"no ${verb.toUpperCase} grant on '$name'"))
      else if (!exists) respond(ex, 404, error(s"no dataset named '$name'"))
      else if (ex.getRequestMethod == "GET") {
        val c = graft.catalog.Collaboration
        if (kind == "wiki") {
          val w = c.getWiki(name)
          respond(ex, 200, s"""{"text":${q(w.map(_.text).getOrElse(""))},""" +
            s""""version":${w.map(_.version.toString).getOrElse("null")}}""")
        } else {
          val t = c.getTags(name)
          val tags = t.map(_.tags).getOrElse(Nil).map(q).mkString(",")
          respond(ex, 200, s"""{"tags":[$tags],""" +
            s""""version":${t.map(_.version.toString).getOrElse("null")}}""")
        }
      } else {
        val body = new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8)
        val version = jsonField(body, "version").map(_.toLong)
        try {
          if (kind == "wiki") {
            val w = graft.catalog.Collaboration.setWiki(name,
              jsonField(body, "text").getOrElse(""), version)
            respond(ex, 200, s"""{"text":${q(w.text)},"version":${w.version}}""")
          } else {
            // tags is a flat array of strings: slice the brackets
            val arr = {
              val i = body.indexOf("\"tags\"")
              val open = if (i < 0) -1 else body.indexOf('[', i)
              val close = if (open < 0) -1 else body.indexOf(']', open)
              if (open < 0 || close < 0) "" else body.substring(open, close)
            }
            val tags = "\"([^\"]*)\"".r.findAllMatchIn(arr).map(_.group(1)).toSeq
            val t = graft.catalog.Collaboration.setTags(name, tags, version)
            respond(ex, 200, s"""{"tags":[${t.tags.map(q).mkString(",")}],""" +
              s""""version":${t.version}}""")
          }
        } catch {
          case e: java.util.ConcurrentModificationException =>
            respond(ex, 409, error(e.getMessage))
          case e: IllegalArgumentException =>
            respond(ex, 400, error(e.getMessage))
        }
      }
    }

    /** `POST /catalog/promote` (reference `CatalogResource.java:60` —
      * format a folder into a dataset): body `{"path": "<dir>", "name":
      * "<dataset>"[, "format": "lake|delta|parquet"]}`, format inferred
      * from the folder when absent (graft-lake log → lake, `_delta_log`
      * → delta, else parquet). The promotion lives in a server-side
      * registry and re-registers as a TEMP VIEW into every `/sql` request
      * session (clones see only the shared catalog, and a persistent view
      * cannot reference the injected scan TVFs); the resolved plan is
      * cached per promotion — lake promotions re-resolve when the table's
      * version advances, parquet/delta pin the promote-time listing
      * (re-promote to refresh). Immediately queryable through `/sql` and
      * listed by `GET /catalog`. Privileges while enforcement is on:
      * ALTER (or admin) on the PATH, and — when the name already exists
      * as a promotion or catalog entry — ALTER (or admin) on the NAME,
      * so a path grant cannot shadow someone else's dataset name and
      * hijack their queries. `DELETE /catalog/<name>` unpromotes (DROP
      * on the name). */
    private def handlePromote(ex: HttpExchange,
                              principal: Option[graft.auth.Privileges.User]): Unit = {
      val p = graft.auth.Privileges
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val path = jsonField(body, "path").getOrElse("")
      val name = jsonField(body, "name").getOrElse("")
      if (path.isEmpty || name.isEmpty)
        respond(ex, 400, error("promote needs \"path\" and \"name\""))
      else if (!name.matches("[A-Za-z_][A-Za-z0-9_]*"))
        respond(ex, 400, error(s"invalid dataset name '$name'"))
      else if (p.enforcing && !principal.exists(u =>
          u.admin || p.allowed(u, "alter", p.normObj(path))))
        respond(ex, 403, error(s"no ALTER grant on '$path'"))
      else if ({
          // name-shadow gate: re-pointing an EXISTING dataset name (another
          // promotion, or any catalog-visible entity — temp views shadow
          // catalog tables at resolution) needs authority over the NAME,
          // not just over some folder the caller happens to own
          val taken = promotions.containsKey(name) || root.catalog.tableExists(name)
          taken && p.enforcing && !principal.exists(u =>
            u.admin || p.allowed(u, "alter", p.normObj(name)))
        })
        respond(ex, 403, error(
          s"dataset '$name' already exists; re-promoting it needs ALTER on the name"))
      else {
        val fmt = jsonField(body, "format").map(_.toLowerCase).getOrElse {
          // probe via the Hadoop FS API, not java.io.File: a delta table
          // on a non-local scheme (hdfs, s3a) promoted without an explicit
          // format must not silently infer parquet and read raw data files
          // past its delta log
          def hasDeltaLog: Boolean =
            try {
              val dl = new org.apache.hadoop.fs.Path(path, "_delta_log")
              dl.getFileSystem(org.apache.spark.sql.graft.Bridge.hadoopConf(root))
                .getFileStatus(dl).isDirectory
            } catch { case _: java.io.IOException => false }
          if (graft.sources.SnapshotTable.isLakeTable(path)) "lake"
          else if (hasDeltaLog) "delta"
          else "parquet"
        }
        if (!Set("lake", "delta", "parquet")(fmt))
          respond(ex, 400, error(s"unsupported format '$fmt'"))
        else
          try {
            // register eagerly on the server session: validates the path
            // NOW (a bad folder is a 400, not a later query failure) and
            // makes the dataset visible to GET /catalog immediately
            evictPlans(name) // a re-promotion must not serve a stale plan
            fileListings.remove(name) // ...nor a stale file index
            promotedDf(root, name, path, fmt).createOrReplaceTempView(name)
            promotions.put(name, (path, fmt))
            saveRegistry(root)
            respond(ex, 200,
              s"""{"name":${q(name)},"path":${q(path)},"format":${q(fmt)}}""")
          } catch {
            case e: Exception =>
              respond(ex, 400, error(s"cannot promote '$path' as $fmt: " +
                e.getMessage.take(300)))
          }
      }
    }

    private def handleUnpromote(ex: HttpExchange,
                                principal: Option[graft.auth.Privileges.User],
                                name: String): Unit = {
      val p = graft.auth.Privileges
      if (p.enforcing && !principal.exists(u =>
          u.admin || p.allowed(u, "drop", p.normObj(name))))
        respond(ex, 403, error(s"no DROP grant on '$name'"))
      else if (promotions.remove(name) == null)
        respond(ex, 404, error(s"no promoted dataset named '$name'"))
      else {
        evictPlans(name)
        root.catalog.dropTempView(name)
        saveRegistry(root)
        respond(ex, 200, s"""{"name":${q(name)},"dropped":true}""")
      }
    }

    override def handle(ex: HttpExchange): Unit =
      try {
        val collabParts = ex.getRequestURI.getPath.stripPrefix("/catalog")
          .stripPrefix("/").split("/")
        val isCollab = collabParts.length == 3 &&
          collabParts(1) == "collaboration" &&
          (collabParts(2) == "wiki" || collabParts(2) == "tag")
        val isPromote = collabParts.length == 1 && collabParts(0) == "promote" &&
          ex.getRequestMethod == "POST"
        val isUnpromote = collabParts.length == 1 && collabParts(0).nonEmpty &&
          ex.getRequestMethod == "DELETE"
        if (ex.getRequestMethod != "GET" &&
            !(isCollab && ex.getRequestMethod == "POST") &&
            !isPromote && !isUnpromote)
          respond(ex, 405, error(
            "GET only (collaboration takes POST; promote takes POST/DELETE)"))
        else basicPrincipal(root, ex) match {
          case Left((code, msg)) => respond(ex, code, error(msg))
          case Right(principal) =>
            val p = graft.auth.Privileges
            if (isCollab) {
              handleCollab(ex, principal, collabParts(0), collabParts(2))
              return
            }
            if (isPromote) { handlePromote(ex, principal); return }
            if (isUnpromote) { handleUnpromote(ex, principal, collabParts(0)); return }
            val rest = ex.getRequestURI.getPath.stripPrefix("/catalog")
              .stripPrefix("/").trim
            // read-only metadata listing over the SERVER's session: a
            // cloned session would hide the server's registered temp
            // views, which are exactly the entities the API reports
            val session = root
            if (rest.isEmpty) {
              import org.apache.spark.sql.functions.{col, struct, to_json}
              // optional search (`?q=`, reference dac catalog search):
              // case-insensitive match over the dataset NAME, its TAGS,
              // and its WIKI text — collaboration metadata is part of the
              // search index, exactly why it exists
              val q0 = queryParam(ex, "q").map(_.toLowerCase).filter(_.nonEmpty)
              def matches(name: String): Boolean = q0.forall { needle =>
                name.toLowerCase.contains(needle) ||
                  graft.catalog.Collaboration.getTags(name)
                    .exists(_.tags.exists(_.toLowerCase.contains(needle))) ||
                  graft.catalog.Collaboration.getWiki(name)
                    .exists(_.text.toLowerCase.contains(needle))
              }
              // ONE materialization of the O(catalog) relation: name for
              // the visibility filter, the row's JSON alongside
              val items = graft.catalog.InfoSchema.tables(session)
                .select(col("table_name"),
                  to_json(struct(col("*"))).as("__j"))
                .collect()
                .filter(r => p.visible(principal, r.getString(0)) && matches(r.getString(0)))
                .map(_.getString(1)).mkString(",")
              val refl = graft.accel.Reflections.list.map(r =>
                s"""{"name":${q(r.name)},"path":${q(r.path)},""" +
                  s""""fingerprint":${q(r.fingerprint)}}""").mkString(",")
              respond(ex, 200, s"""{"data":[$items],"reflections":[$refl]}""")
            } else if (rest == "lake") {
              val dir = queryParam(ex, "path").getOrElse("")
              if (dir.isEmpty) respond(ex, 400, error("lake needs ?path=<dir>"))
              else if (!p.visible(principal, dir)) respond(ex, 403,
                error(s"no SELECT grant on '$dir'"))
              else if (!graft.sources.SnapshotTable.isLakeTable(dir))
                respond(ex, 404, error(s"no lake table at '$dir'"))
              else {
                val t = graft.sources.SnapshotTable.forPath(session, dir)
                val refs = t.listRefs.map(r =>
                  s"""{"name":${q(r.name)},"type":${q(r.refType)},""" +
                    s""""baseVersion":${r.baseVersion}}""").mkString(",")
                respond(ex, 200,
                  s"""{"path":${q(dir)},"version":${t.latestVersion},""" +
                    s""""refs":[$refs]}""")
              }
            } else if (!p.visible(principal, rest)) {
              respond(ex, 403, error(s"no SELECT grant on '$rest'"))
            } else {
              import org.apache.spark.sql.functions.col
              val cols = graft.catalog.InfoSchema.columns(session)
                .filter(col("table_name") === rest)
                .toJSON.collect()
              if (cols.isEmpty) respond(ex, 404, error(s"no dataset named '$rest'"))
              else respond(ex, 200,
                s"""{"name":${q(rest)},"fields":[${cols.mkString(",")}]}""")
            }
        }
      } catch {
        case e: MalformedJson => respond(ex, 400, error(e.getMessage))
        case e: Exception => respond(ex, 500, error(e.toString.take(500)))
      } finally ex.close()
  }

  /** `GET /jobs` — recent completed statements; `GET /jobs/<id>` — one
    * record; `GET /jobs/<id>/profile` — its per-operator executed metrics;
    * `POST /jobs/<id>/cancel` — kill a RUNNING statement (reference
    * `POST /api/v3/job/{id}/cancel`, `JobResource.java`).
    * Served from QueryHistory's ring / the live RunningQueries ledger. */
  private final class JobsHandler(spark: org.apache.spark.sql.SparkSession)
      extends HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        val parts0 = ex.getRequestURI.getPath.stripPrefix("/jobs")
          .stripPrefix("/").split("/").filter(_.nonEmpty)
        if (ex.getRequestMethod == "POST") parts0 match {
          case Array(id, "cancel") =>
            // while auth enforcement is on, the caller binds credentials
            // (same optional body fields the /sql route takes); the
            // owner-or-admin rule itself is RunningQueries.cancel's
            val body = new String(ex.getRequestBody.readAllBytes(),
              StandardCharsets.UTF_8)
            val caller: Either[(Int, String), SparkSession] =
              if (!graft.auth.Privileges.enforcing) Right(spark)
              else Statements.open(spark, Statements.Credentials(None,
                  jsonField(body, "user"), jsonField(body, "password")), required = true)
                .map(_.session).left.map(401 -> _)
            caller.flatMap(s => graft.engine.RunningQueries.cancel(s, id.toLong)
                .left.map(403 -> _)) match {
              case Left((code, msg)) => respond(ex, code, error(msg))
              case Right(true) => respond(ex, 200, s"""{"cancelled":$id}""")
              case Right(false) => respond(ex, 404, error(s"no running query $id"))
            }
          case _ => respond(ex, 405, error("POST supports /jobs/<id>/cancel only"))
        }
        else if (ex.getRequestMethod != "GET") respond(ex, 405, error("GET only"))
        else {
          val parts = parts0
          parts match {
            case Array() =>
              val items = graft.catalog.QueryHistory.records.map(recordJson)
              respond(ex, 200, s"""{"jobs":[${items.mkString(",")}]}""")
            case Array(id) =>
              graft.catalog.QueryHistory.records.find(_.id == id.toLong) match {
                case Some(r) => respond(ex, 200, recordJson(r))
                case None    => respond(ex, 404, error(s"no job $id"))
              }
            case Array(id, "profile") =>
              val ops = graft.catalog.QueryHistory.profileOf(id.toLong)
              if (ops.isEmpty) respond(ex, 404, error(s"no profile for job $id"))
              else {
                val rows = ops.map { o =>
                  val ms = o.metrics.toSeq.sortBy(_._1)
                    .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
                  s"""{"opId":${o.opId},"depth":${o.depth},"operator":${q(o.operator)},""" +
                    s""""detail":${q(o.detail)},"metrics":$ms}"""
                }
                respond(ex, 200,
                  s"""{"jobId":$id,"operators":[${rows.mkString(",")}]}""")
              }
            case _ => respond(ex, 404, error("unknown jobs path"))
          }
        }
      } catch {
        case _: NumberFormatException => respond(ex, 400, error("job id must be numeric"))
        case e: MalformedJson => respond(ex, 400, error(e.getMessage))
        case e: Exception => respond(ex, 500, error(e.toString.take(500)))
      } finally ex.close()

    private def recordJson(r: graft.catalog.QueryRecord): String =
      s"""{"id":${r.id},"action":${q(r.action)},"status":${q(r.status)},""" +
        s""""durationMs":${r.durationMs},"outputRows":${r.outputRows},""" +
        s""""shuffleBytes":${r.shuffleBytes},"plan":${q(r.plan)},"tsMs":${r.tsMs}}"""
  }

  /** One query parameter, percent-decoded exactly ONCE: parse the RAW
    * query (URI.getQuery pre-decodes, so decoding its output again breaks
    * values containing '%' and loses '+'/'&' content). */
  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split("&").collectFirst {
        case kv if kv.startsWith(name + "=") => java.net.URLDecoder
          .decode(kv.stripPrefix(name + "="), StandardCharsets.UTF_8)
      }

  /** A JSON string literal: quote, backslash and every control character
    * below U+0020 escaped. */
  private[server] def q(s: String): String = {
    val sb = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t"); case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** A request body that is not well-formed JSON where a field is read
    * (answered with 400). */
  private[server] final class MalformedJson(msg: String) extends IllegalArgumentException(msg)

  /** The JSON string whose body starts at `from` (just past its opening
    * quote), decoded, and the index of its closing quote (`s.length` when
    * the text ends first). Every JSON escape is decoded; a four-digit
    * `u` escape yields one UTF-16 unit, so a surrogate pair decodes to its
    * code point. */
  private def unescape(s: String, from: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = from
    while (i < s.length && s(i) != '"') {
      if (s(i) != '\\') { sb.append(s(i)); i += 1 }
      else {
        if (i + 1 >= s.length) throw new MalformedJson("malformed JSON: dangling backslash")
        s(i + 1) match {
          case '"' => sb.append('"'); case '\\' => sb.append('\\')
          case '/' => sb.append('/'); case 'b' => sb.append('\b')
          case 'f' => sb.append('\f'); case 'n' => sb.append('\n')
          case 'r' => sb.append('\r'); case 't' => sb.append('\t')
          case 'u' =>
            val hex = s.slice(i + 2, i + 6)
            if (hex.length < 4 || !hex.forall(Character.digit(_, 16) >= 0))
              throw new MalformedJson(s"malformed JSON escape \\u$hex")
            sb.append(Integer.parseInt(hex, 16).toChar)
            i += 4
          case c => throw new MalformedJson(s"malformed JSON escape \\$c")
        }
        i += 2
      }
    }
    (sb.toString, i)
  }

  /** Inverse of [[q]]'s escaping for registry reload. */
  private def unq(s: String): String = unescape(s, 0)._1

  private def error(msg: String): String = s"""{"error":${q(msg)}}"""

  /** Minimal JSON string/number field extraction — the request body is a
    * flat object; a full JSON parser would be the only use of one in the
    * engine. String values are decoded ([[unescape]]); a malformed escape
    * or an unterminated string throws [[MalformedJson]]. */
  private[server] def jsonField(body: String, name: String): Option[String] = {
    val key = "\"" + name + "\""
    val i = body.indexOf(key)
    if (i < 0) return None
    var j = body.indexOf(':', i + key.length)
    if (j < 0) return None
    j += 1
    while (j < body.length && body(j).isWhitespace) j += 1
    if (j >= body.length) return None
    if (body(j) == '"') {
      val (value, end) = unescape(body, j + 1)
      if (end >= body.length) throw new MalformedJson(s"malformed JSON: unterminated \"$name\" string")
      Some(value)
    } else {
      val end = body.indexWhere(c => !(c.isDigit || c == '-' || c == '+'), j)
      Some(body.substring(j, if (end < 0) body.length else end).trim)
        .filter(_.nonEmpty)
    }
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

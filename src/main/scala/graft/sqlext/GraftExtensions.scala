package graft.sqlext

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.types._

import graft.sources.SnapshotTable

/** Session extension wiring (the Spark-native analog of the reference's
  * pluggable coordinator: grammar extension + planner rules + function
  * registry — SURVEY §3/§4). Install with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or via
  * `spark.sql.extensions=graft.sqlext.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
    // Authorization: analysis-time SELECT checks against the privilege
    // registry while enforcement is on (CREATE USER/ROLE + GRANT surface,
    // reference Parser.tdd:656-660). A check rule guards every front end
    // that plans SQL — in-process, Thrift, Connect, REST — for free.
    e.injectCheckRule(session => new graft.auth.AuthorizeRule(session))
    // graft_principal(): the AUTHENTICATEd principal (reference
    // ContextFunctions.java, same plan-time-literal mechanism as
    // is_member/last_query_id in DremioSurface). Folding at ANALYSIS is
    // load-bearing for security: the literal lands in the analyzed plan,
    // so two principals' queries differ structurally where Spark's
    // CacheManager and the result cache compare plans — SQL-UDF bodies
    // that hide the fold are covered by the SQLScalarFunction term in
    // Reflections.fingerprintPlan. Policy views (auth.Policies) register
    // as SQL TEXT, re-analyzed per use, so each statement folds the
    // CURRENT principal.
    e.injectFunction((FunctionIdentifier("graft_principal"),
      info("graft_principal", "graft_principal() — authenticated session principal (NULL if anonymous)"),
      (_: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          graft.auth.Privileges.principalOf(SparkSession.active)
            .map(_.name).orNull, StringType)))
    // Path-qualified file tables (parquet.`/dir` …) resolve through the
    // file metadata cache: the parser marks them, this rule resolves the
    // marker with the cached schema (a resolution rule: Hive sessions drop
    // injected hint-resolution rules)
    e.injectResolutionRule(session => new graft.sources.FileMetadata.Resolve(session))
    e.injectOptimizerRule(session => new graft.accel.Reflections.Substitute(session))
    e.injectOptimizerRule(session => new graft.plans.CountFromManifest(session))
    e.injectOptimizerRule(session => new graft.plans.CategoricalSelectivity(session))
    e.injectOptimizerRule(session => new graft.plans.ApproxCountDistinct(session))
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // Parquet row groups that span byte splits are read by all of them,
    // a row range each (physical plans only)
    e.injectColumnar(_ => graft.sources.RowSlices.Install)
    // Lake metadata table functions — the reference's TABLE(table_files(..))
    // / table_history / table_snapshot family (dremio `TableMacroNames.java`,
    // `sys."tables"`): FROM-clause functions over the commit log, joinable
    // like any relation. Metadata is manifest-resident and driver-small, so
    // each call plans to a LocalRelation with zero data-file reads.
    e.injectTableFunction((FunctionIdentifier("lake_files"),
      info("lake_files", "lake_files('<dir>') — live data files of a lake table with manifest stats"),
      (args: Seq[Expression]) => lakeFiles(args)))
    e.injectTableFunction((FunctionIdentifier("lake_history"),
      info("lake_history", "lake_history('<dir>') — commit log of a lake table"),
      (args: Seq[Expression]) => lakeHistory(args)))
    e.injectTableFunction((FunctionIdentifier("lake_refs"),
      info("lake_refs", "lake_refs('<dir>') — branches and tags of a lake table"),
      (args: Seq[Expression]) => lakeRefs(args)))
    // Observability for ANALYZE LAKE ... COMPUTE STATISTICS (reference
    // sys.table_statistics): the persisted CBO stats per column, straight
    // from TBLPROPERTIES — what the planner will actually use.
    e.injectTableFunction((FunctionIdentifier("lake_stats"),
      info("lake_stats",
        "lake_stats('<dir>') — persisted ANALYZE statistics of a lake table"),
      (args: Seq[Expression]) => lakeStats(args)))
    // Inline lake relation: query a lake table at its path straight from a
    // FROM clause (the reference's query-on-path surface, dremio
    // `dfs."/path"` / TABLE(..) — `FormatCreator` resolves paths to
    // datasets). Optional second argument time-travels to a version. Plans
    // to the SAME manifest-pruned scan as CREATE LAKE VIEW.
    e.injectTableFunction((FunctionIdentifier("lake_scan"),
      info("lake_scan", "lake_scan('<dir>'[, version]) — scan a lake table at a path"),
      (args: Seq[Expression]) => lakeScan(args)))
    // Result cache as a FROM-clause surface: serve the inner SELECT from
    // the version-gated result cache (accel.ResultCache — the reference's
    // plan cache, `PlanCache.java`). This is what makes the cache reachable
    // from every network front end (Thrift/Connect/REST) — wire sessions
    // share the cache registry and the context's CacheManager, so a hit is
    // the persisted result, and a lake commit on any session invalidates.
    // The inner query materializes on first use (eager, like a command).
    e.injectTableFunction((FunctionIdentifier("cached"),
      info("cached", "cached('<select sql>') — serve from the version-gated result cache"),
      (args: Seq[Expression]) => cachedResult(args)))
    // Excel workbooks straight from a FROM clause (reference easy-format
    // path-query surface, `ExcelFormatPlugin.java`): first sheet by
    // default, optional sheet name as the second argument.
    e.injectTableFunction((FunctionIdentifier("excel_scan"),
      info("excel_scan", "excel_scan('<path>'[, '<sheet>']) — read .xlsx workbooks"),
      (args: Seq[Expression]) => excelScan(args)))
    // Web archives straight from a FROM clause (sources.WarcFiles — the
    // Common-Crawl WARC/WET ingestion head): raw records, the WET text
    // view, and the parsed-HTTP response view.
    e.injectTableFunction((FunctionIdentifier("warc_scan"),
      info("warc_scan", "warc_scan('<dir>') — raw WARC/WET records"),
      (args: Seq[Expression]) => warcScan(args, "warc_scan")))
    e.injectTableFunction((FunctionIdentifier("warc_text"),
      info("warc_text", "warc_text('<dir>') — WET conversion records as (target_uri, warc_date, text)"),
      (args: Seq[Expression]) => warcScan(args, "warc_text")))
    e.injectTableFunction((FunctionIdentifier("warc_http"),
      info("warc_http", "warc_http('<dir>') — response records with parsed http_status/content-type/body"),
      (args: Seq[Expression]) => warcScan(args, "warc_http")))
    e.injectTableFunction((FunctionIdentifier("warc_http_text"),
      info("warc_http_text",
        "warc_http_text('<dir>') — response bodies decoded under their declared charset"),
      (args: Seq[Expression]) => warcScan(args, "warc_http_text")))
    // Interop format readers: Iceberg v1/v2 metadata trees and Delta
    // `_delta_log` tables written by ANY engine, queryable by path with no
    // format-runtime jars (reference native readers `exec/store/iceberg/`,
    // `exec/store/deltalake/`; see sources.IcebergRead / DeltaInterop).
    // Optional second argument time-travels (Iceberg: snapshot id; Delta:
    // log version).
    e.injectTableFunction((FunctionIdentifier("iceberg_scan"),
      info("iceberg_scan", "iceberg_scan('<dir>'[, snapshot_id]) — read an Iceberg table"),
      (args: Seq[Expression]) => icebergScan(args)))
    e.injectTableFunction((FunctionIdentifier("delta_scan"),
      info("delta_scan", "delta_scan('<dir>'[, version]) — read a Delta Lake table"),
      (args: Seq[Expression]) => deltaScan(args)))
    // EXTERNAL QUERY (reference `ExternalQueryTranslatableTable.java`,
    // `source.external_query('sql')` and the dedicated EXTERNAL QUERY
    // grant in SqlGrant.java): ship RAW SQL verbatim to a registered JDBC
    // source and read the result back as a relation — the escape hatch
    // for remote-dialect SQL the planner can't translate.
    e.injectTableFunction((FunctionIdentifier("external_query"),
      info("external_query",
        "external_query('<source>', '<sql>') — run raw SQL on a JDBC source"),
      (args: Seq[Expression]) => externalQuery(args)))
    // Iceberg metadata tables (the reference's TABLE(table_snapshots(..)) /
    // table_files(..) over Iceberg trees — `TableMacroNames.java`): rows
    // come straight from metadata.json + avro manifests, zero data reads.
    e.injectTableFunction((FunctionIdentifier("iceberg_snapshots"),
      info("iceberg_snapshots",
        "iceberg_snapshots('<dir>') — published snapshots of an Iceberg table"),
      (args: Seq[Expression]) => icebergSnapshots(args)))
    e.injectTableFunction((FunctionIdentifier("iceberg_files"),
      info("iceberg_files",
        "iceberg_files('<dir>'[, snapshot_id]) — live data files with manifest stats"),
      (args: Seq[Expression]) => icebergFiles(args)))
    // the rest of the reference's metadata-function family
    // (`MetadataFunctionsMacro.java`: table_manifests / table_partitions /
    // table_history across formats) — all manifest/log-resident,
    // zero data-file reads
    e.injectTableFunction((FunctionIdentifier("iceberg_manifests"),
      info("iceberg_manifests",
        "iceberg_manifests('<dir>'[, snapshot_id]) — manifest-list entries"),
      (args: Seq[Expression]) => icebergManifests(args)))
    e.injectTableFunction((FunctionIdentifier("iceberg_partitions"),
      info("iceberg_partitions",
        "iceberg_partitions('<dir>'[, snapshot_id]) — per-partition file/row totals"),
      (args: Seq[Expression]) => icebergPartitions(args)))
    e.injectTableFunction((FunctionIdentifier("lake_partitions"),
      info("lake_partitions",
        "lake_partitions('<dir>') — per-partition file/row/byte totals of a lake table"),
      (args: Seq[Expression]) => lakePartitions(args)))
    e.injectTableFunction((FunctionIdentifier("delta_history"),
      info("delta_history",
        "delta_history('<dir>') — commit history of a Delta table"),
      (args: Seq[Expression]) => deltaHistory(args)))
    // Join recommendations from job history (reference
    // `JobsBasedRecommender.java:74` via `DatasetVersionResource.java:1306`):
    // every equi-join completed jobs ran against the named dataset, merged
    // and ranked by (job count, recency). Driver-side metadata only.
    e.injectTableFunction((FunctionIdentifier("join_recommendations"),
      info("join_recommendations",
        "join_recommendations('<table>') — ranked joins other jobs ran against this dataset"),
      (args: Seq[Expression]) => joinRecos(args)))
    // Stats-driven reflection suggestions (reference `ReflectionSuggester
    // .java:57` behind the suggestion REST surface): profile the dataset
    // in one aggregate pass, return RAW + AGG layout proposals.
    e.injectTableFunction((FunctionIdentifier("suggest_reflections"),
      info("suggest_reflections",
        "suggest_reflections('<dir>') — RAW/AGG reflection layouts from a one-pass column profile"),
      (args: Seq[Expression]) => suggestReflections(args)))
    // Per-operator query profile (reference profile viewer's operator
    // table, `UserBitShared.OperatorProfile`): executed plan nodes of a
    // completed query with their metric values, straight from the bounded
    // profile ring — sys_queries holds the id.
    e.injectTableFunction((FunctionIdentifier("query_profile"),
      info("query_profile",
        "query_profile([id]) — executed operators + metrics of a completed query (default: latest)"),
      (args: Seq[Expression]) => queryProfile(args)))
    // Column lineage (reference FieldOriginExtractor behind the catalog
    // lineage graph API, `QueryMetadata.java:374`): output field → base
    // (table, column) origins with a derived flag. Analysis-only — the
    // inner statement never executes.
    e.injectTableFunction((FunctionIdentifier("column_origins"),
      info("column_origins",
        "column_origins('<select sql>') — base-column origins of each output field"),
      (args: Seq[Expression]) => columnOrigins(args)))
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** The single literal-string argument of a metadata function. */
  private def dirArg(fn: String, args: Seq[Expression]): String = args match {
    case Seq(e) if e.foldable && e.dataType == StringType && e.eval() != null =>
      e.eval().toString
    case _ => throw new IllegalArgumentException(
      s"$fn expects one string literal argument: $fn('<table dir>')")
  }

  private def attrs(fields: (String, DataType)*): Seq[Attribute] =
    fields.map { case (n, t) => AttributeReference(n, t, nullable = true)() }

  /** EXTERNAL QUERY: the source name resolves through the session's JDBC
    * catalog confs (`spark.sql.catalog.<name>.url` / `.driver`, the same
    * registration JDBC federation uses) and the SQL ships VERBATIM as a
    * JDBC `query` — remote dialect is the source's business, exactly the
    * reference's contract. While auth enforcement is on, the caller needs
    * SELECT on `external:<source>` (the analysis-time check rule can't see
    * inside raw remote SQL, so the grant is on the source itself — the
    * reference gates EXTERNAL QUERY per-source the same way). */
  private def externalQuery(args: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    args match {
      case Seq(s, q) if s.foldable && s.dataType == StringType && s.eval() != null &&
          q.foldable && q.dataType == StringType && q.eval() != null =>
        val source = s.eval().toString
        val sql = q.eval().toString
        val p = graft.auth.Privileges
        if (p.enforcing) {
          val principal = p.principalOf(spark)
          val ok = principal.exists(u => p.allowed(u, "select", s"external:${source.toLowerCase}"))
          if (!ok) throw new SecurityException(
            s"principal ${principal.map(_.name).getOrElse("<anonymous>")} lacks SELECT " +
              s"on external:$source (EXTERNAL QUERY ships raw SQL — it is granted " +
              "per source, not per table)")
        }
        // Resolution authority is the JVM-wide Sources registry FIRST
        // (CREATE SOURCE from any session is immediately queryable from
        // every other session — the registry contract), with the
        // session's own `spark.sql.catalog.<name>.url` conf as fallback
        // for direct-conf federation setups that never issued CREATE
        // SOURCE. Session conf alone would break cross-session use:
        // newSession() clones don't inherit runtime conf.
        val reg = scala.util.Try(graft.catalog.Sources.get(source)).toOption
          .filter(_.kind == "jdbc")
        val url = reg.flatMap(_.props.get("url"))
          .orElse(spark.conf.getOption(s"spark.sql.catalog.$source.url"))
          .getOrElse(throw new IllegalArgumentException(
            s"external_query: no JDBC source '$source' " +
              s"(CREATE SOURCE $source TYPE jdbc, or set spark.sql.catalog.$source.url)"))
        val driver = reg.flatMap(_.props.get("driver"))
          .orElse(spark.conf.getOption(s"spark.sql.catalog.$source.driver"))
        val reader = spark.read.format("jdbc")
          .option("url", url).option("query", sql)
        driver.fold(reader)(d => reader.option("driver", d))
          .load().queryExecution.analyzed
      case _ => throw new IllegalArgumentException(
        "external_query expects two string literals: external_query('<source>', '<sql>')")
    }
  }

  private def warcScan(args: Seq[Expression], fn: String): LogicalPlan = {
    val spark = SparkSession.active
    // warc_scan takes an optional second arg: a WARC record-type filter
    // ('warcinfo' | 'request' | 'response' | 'conversion' | ...), pushed
    // into the scan as a plain filter on the streaming reader's output
    val (dirArgs, typeFilter) = args match {
      case Seq(d, t) if fn == "warc_scan" && t.foldable &&
          t.dataType == org.apache.spark.sql.types.StringType && t.eval() != null =>
        (Seq(d), Some(t.eval().toString))
      case other => (other, None)
    }
    val dir = dirArg(fn, dirArgs)
    val df = fn match {
      case "warc_text" => graft.sources.WarcFiles.readText(spark, dir)
      case "warc_http" => graft.sources.WarcFiles.readHttp(spark, dir)
      case "warc_http_text" => graft.sources.WarcFiles.readHttpText(spark, dir)
      case _ =>
        val base = graft.sources.WarcFiles.read(spark, dir)
        typeFilter.map(t => base.filter(
          org.apache.spark.sql.functions.col("warc_type") === t)).getOrElse(base)
    }
    df.queryExecution.analyzed
  }

  private def excelScan(args: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    def str(e: Expression): Option[String] =
      if (e.foldable && e.dataType == StringType && e.eval() != null)
        Some(e.eval().toString) else None
    args match {
      case Seq(p) if str(p).isDefined =>
        graft.sources.ExcelFiles.read(spark, str(p).get).queryExecution.analyzed
      case Seq(p, s) if str(p).isDefined && str(s).isDefined =>
        graft.sources.ExcelFiles.read(spark, str(p).get, sheet = str(s))
          .queryExecution.analyzed
      case _ => throw new IllegalArgumentException(
        "excel_scan expects excel_scan('<path>'[, '<sheet>'])")
    }
  }

  /** ('<dir>' [, <integer version>]) argument shapes shared by the two
    * interop scan TVFs. */
  private def interopArgs(fn: String, args: Seq[Expression]): (String, Option[Long]) =
    args match {
      case Seq(d) => (dirArg(fn, Seq(d)), None)
      case Seq(d, v) if v.foldable &&
          Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(v.dataType) =>
        (dirArg(fn, Seq(d)), Some(v.eval().toString.toLong))
      case _ => throw new IllegalArgumentException(
        s"$fn expects $fn('<dir>'[, <version>])")
    }

  private def icebergScan(args: Seq[Expression]): LogicalPlan = {
    // string second argument = branch or tag name (AT BRANCH|TAG inline,
    // same convention as lake_scan)
    args match {
      case Seq(d, r) if r.foldable && r.dataType == StringType && r.eval() != null =>
        graft.sources.IcebergRead.scan(SparkSession.active,
            dirArg("iceberg_scan", Seq(d)), ref = Some(r.eval().toString))
          .queryExecution.analyzed
      case _ =>
        val (dir, snap) = interopArgs("iceberg_scan", args)
        graft.sources.IcebergRead.scan(SparkSession.active, dir, snapshotId = snap)
          .queryExecution.analyzed
    }
  }

  private def deltaScan(args: Seq[Expression]): LogicalPlan = {
    val (dir, v) = interopArgs("delta_scan", args)
    graft.sources.DeltaInterop.scan(SparkSession.active, dir, version = v)
      .queryExecution.analyzed
  }

  private def icebergSnapshots(args: Seq[Expression]): LogicalPlan = {
    val meta = graft.sources.IcebergRead.loadMetadata(
      dirArg("iceberg_snapshots", args))
    LocalRelation.fromExternalRows(
      attrs("snapshot_id" -> LongType, "committed_at_ms" -> LongType,
        "is_current" -> BooleanType, "manifest_list" -> StringType),
      meta.snapshots.map(s => Row(s.id, s.timestampMs,
        meta.currentSnapshotId.contains(s.id), s.manifestList)))
  }

  private def icebergFiles(args: Seq[Expression]): LogicalPlan = {
    val (dir, snap) = interopArgs("iceberg_files", args)
    val meta = graft.sources.IcebergRead.loadMetadata(dir)
    val files = graft.sources.IcebergRead.dataFiles(meta, snapshotId = snap)
    LocalRelation.fromExternalRows(
      attrs("file_path" -> StringType, "record_count" -> LongType,
        "partition" -> StringType),
      files.map(f => Row(f.path, f.recordCount,
        f.partition.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", "))))
  }

  private def columnOrigins(args: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    val fos = graft.catalog.FieldOrigins.of(spark,
      dirArg("column_origins", args))
    LocalRelation.fromExternalRows(
      attrs("field" -> StringType, "origin_table" -> StringType,
        "origin_column" -> StringType, "derived" -> BooleanType),
      fos.flatMap { fo =>
        if (fo.origins.isEmpty) Seq(Row(fo.field, null, null, fo.derived))
        else fo.origins.map(o => Row(fo.field, o.table, o.column, fo.derived))
      })
  }

  private def joinRecos(args: Seq[Expression]): LogicalPlan = {
    val recos = graft.explore.JoinRecommender
      .recommend(dirArg("join_recommendations", args))
    LocalRelation.fromExternalRows(
      attrs("other_table" -> StringType, "join_type" -> StringType,
        "target_keys" -> ArrayType(StringType),
        "other_keys" -> ArrayType(StringType),
        "job_count" -> LongType, "last_used_ms" -> LongType),
      recos.map(r => Row(r.otherTable, r.joinType,
        r.keys.map(_._1), r.keys.map(_._2), r.jobCount, r.lastUsedMs)))
  }

  private def queryProfile(args: Seq[Expression]): LogicalPlan = {
    import graft.catalog.QueryHistory
    val id: Option[Long] = args match {
      case Seq() => QueryHistory.latestProfiledId
      case Seq(e) if e.foldable && e.eval() != null &&
          Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(e.dataType) =>
        Some(e.eval().toString.toLong)
      case _ => throw new IllegalArgumentException(
        "query_profile expects no argument or one integer query id")
    }
    val ops = id.map(QueryHistory.profileOf).getOrElse(Nil)
    LocalRelation.fromExternalRows(
      attrs("query_id" -> LongType, "op_id" -> IntegerType,
        "depth" -> IntegerType, "operator" -> StringType,
        "detail" -> StringType, "metrics" -> MapType(StringType, LongType)),
      ops.map(o => Row(o.queryId, o.opId, o.depth, o.operator, o.detail, o.metrics)))
  }

  private def suggestReflections(args: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    val dir = dirArg("suggest_reflections", args)
    val df =
      if (SnapshotTable.isLakeTable(dir)) SnapshotTable.forPath(spark, dir).read()
      else spark.read.parquet(dir)
    val dataset = dir.replaceAll("/+$", "").split('/').last.stripSuffix(".parquet")
    val rows = graft.accel.ReflectionSuggester.suggest(df, dataset).map(s =>
      Row(s.name, s.rtype, s.displayFields, s.dimensions, s.measures))
    LocalRelation.fromExternalRows(
      attrs("name" -> StringType, "type" -> StringType,
        "display_fields" -> ArrayType(StringType),
        "dimensions" -> ArrayType(StringType),
        "measures" -> ArrayType(StringType)),
      rows)
  }

  private def lakeFiles(args: Seq[Expression]): LogicalPlan = {
    val t = SnapshotTable.forPath(SparkSession.active, dirArg("lake_files", args))
    val (files, _) = t.snapshotWithStats()
    val rows = files.map { case (path, st) =>
      val user = st -- Seq(SnapshotTable.BytesStatKey, SnapshotTable.RowsStatKey)
      Row(path,
        st.get(SnapshotTable.BytesStatKey).flatMap(v => v._1.toLongOption).orNull,
        st.get(SnapshotTable.RowsStatKey).flatMap(v => v._1.toLongOption).orNull,
        user.map { case (c, mm) => c -> mm._1 },
        user.map { case (c, mm) => c -> mm._2 })
    }
    LocalRelation.fromExternalRows(
      attrs("file_path" -> StringType, "size_bytes" -> LongType,
        "row_count" -> LongType,
        "stats_min" -> MapType(StringType, StringType),
        "stats_max" -> MapType(StringType, StringType)),
      rows)
  }

  private def lakeHistory(args: Seq[Expression]): LogicalPlan = {
    val t = SnapshotTable.forPath(SparkSession.active, dirArg("lake_history", args))
    val rows = t.commits.map(c =>
      Row(c.version, c.action, c.timestampMs, c.files.size, c.tag))
    LocalRelation.fromExternalRows(
      attrs("version" -> LongType, "action" -> StringType,
        "timestamp_ms" -> LongType, "n_files" -> IntegerType,
        "tag" -> StringType),
      rows)
  }

  private def lakeStats(args: Seq[Expression]): LogicalPlan = {
    val dir = dirArg("lake_stats", args)
    val t = SnapshotTable.forPath(SparkSession.active, dir)
    // reading a table's stats (re-)registers it with sys_table_statistics
    graft.catalog.CboStats.noteAnalyzed(dir)
    val props = t.properties
    val rowCount = props.get(graft.catalog.CboStats.RowCountKey)
    val version = props.get(graft.catalog.CboStats.VersionKey)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows = props.toSeq
      .filter(_._1.startsWith(graft.catalog.CboStats.ColPrefix))
      .sortBy(_._1)
      .map { case (k, js) =>
        val n = mapper.readTree(js)
        val hist = Option(n.get("hist"))
        Row(k.stripPrefix(graft.catalog.CboStats.ColPrefix),
          rowCount.map(_.toLong).getOrElse(0L),
          n.get("nulls").asLong(), n.get("ndv").asLong(),
          Option(n.get("min")).map(_.asText()).orNull,
          Option(n.get("max")).map(_.asText()).orNull,
          hist.map(_.get("bins").size()).map(Int.box).orNull,
          hist.map(_.toString).orNull,
          // categorical frequent items ([item, count] pairs) — the
          // string-column analog of the histogram, feeding the
          // equality-selectivity hook (plans.CategoricalSelectivity)
          Option(n.get("freq")).map(_.toString).orNull,
          version.map(_.toLong).map(Long.box).orNull)
      }
    LocalRelation.fromExternalRows(
      attrs("col_name" -> StringType, "n_rows" -> LongType,
        "n_nulls" -> LongType, "ndv" -> LongType,
        "min_value" -> StringType, "max_value" -> StringType,
        "histogram_bins" -> IntegerType, "histogram" -> StringType,
        "frequent_items" -> StringType,
        "analyzed_version" -> LongType),
      rows)
  }

  private def icebergManifests(args: Seq[Expression]): LogicalPlan = {
    val (dir, snap) = interopArgs("iceberg_manifests", args)
    val meta = graft.sources.IcebergRead.loadMetadata(dir)
    val rows = graft.sources.IcebergRead.manifests(meta, snap).map(m =>
      Row(m.path, m.length, if (m.content == 1) "deletes" else "data",
        m.sequenceNumber, m.addedFiles, m.existingFiles, m.deletedFiles,
        m.addedRows))
    LocalRelation.fromExternalRows(
      attrs("manifest_path" -> StringType, "manifest_length" -> LongType,
        "content" -> StringType, "sequence_number" -> LongType,
        "added_files" -> IntegerType, "existing_files" -> IntegerType,
        "deleted_files" -> IntegerType, "added_rows" -> LongType),
      rows)
  }

  private def icebergPartitions(args: Seq[Expression]): LogicalPlan = {
    val (dir, snap) = interopArgs("iceberg_partitions", args)
    val meta = graft.sources.IcebergRead.loadMetadata(dir)
    val rows = graft.sources.IcebergRead.dataFiles(meta, snap)
      .groupBy(_.partition.map { case (k, v) => k -> String.valueOf(v) })
      .toSeq.map { case (part, fs) =>
        Row(part, fs.size, fs.map(_.recordCount).sum)
      }
    LocalRelation.fromExternalRows(
      attrs("partition" -> MapType(StringType, StringType),
        "n_files" -> IntegerType, "row_count" -> LongType),
      rows)
  }

  private def lakePartitions(args: Seq[Expression]): LogicalPlan = {
    val dir = dirArg("lake_partitions", args)
    val t = SnapshotTable.forPath(SparkSession.active, dir)
    val (files, _) = t.snapshotWithStats()
    // hive dirs are written under generated `__gp_<i>` names; translate
    // back through the layout's transform list — identity shows as its
    // source column, other transforms under their repr (bucket(4,c) …)
    val transforms = t.effectiveLayout._1
      .flatMap(s => scala.util.Try(
        graft.sources.PartitionTransform.parse(s)).toOption)
    def keyOf(seg: String): String = {
      val raw = seg.substring(0, seg.indexOf('='))
      if (!raw.startsWith("__gp_")) raw
      else transforms.lift(raw.stripPrefix("__gp_").toInt).map {
        case t: graft.sources.PartitionTransform.IdentityT => t.srcCol
        case other => other.repr
      }.getOrElse(raw)
    }
    val rows = files.groupBy { case (path, _) =>
        path.stripPrefix(dir).split('/').dropRight(1)
          .filter(_.contains('=')).toSeq
      }.toSeq.map { case (segs, fs) =>
        val kv = segs.map { seg =>
          keyOf(seg) -> seg.substring(seg.indexOf('=') + 1)
        }.toMap
        Row(kv, fs.size,
          fs.flatMap(_._2.get(SnapshotTable.RowsStatKey))
            .flatMap(_._1.toLongOption).sum,
          fs.flatMap(_._2.get(SnapshotTable.BytesStatKey))
            .flatMap(_._1.toLongOption).sum)
      }
    LocalRelation.fromExternalRows(
      attrs("partition" -> MapType(StringType, StringType),
        "n_files" -> IntegerType, "row_count" -> LongType,
        "size_bytes" -> LongType),
      rows)
  }

  private def deltaHistory(args: Seq[Expression]): LogicalPlan = {
    val dir = dirArg("delta_history", args)
    val rows = graft.sources.DeltaInterop.history(dir).map(h =>
      Row(h.version, h.timestampMs, h.operation, h.nAdds, h.nRemoves))
    LocalRelation.fromExternalRows(
      attrs("version" -> LongType, "timestamp_ms" -> LongType,
        "operation" -> StringType, "n_adds" -> IntegerType,
        "n_removes" -> IntegerType),
      rows)
  }

  private def lakeScan(args: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    args match {
      case Seq(d) =>
        // a session USE BRANCH|TAG|VERSION pin re-points the default-head
        // read (reference SqlUseVersion semantics); explicit version/ref
        // args below always win
        val dir = dirArg("lake_scan", Seq(d))
        val t = SnapshotTable.forPath(spark, dir)
        graft.sources.SessionRefs.pin(spark, dir).map {
          case Left(v) => t.read(version = Some(v))
          case Right(ref) => t.readRef(ref)
        }.getOrElse(t.read()).queryExecution.analyzed
      case Seq(d, v) if v.foldable &&
          Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(v.dataType) =>
        SnapshotTable.forPath(spark, dirArg("lake_scan", Seq(d)))
          .read(version = Some(v.eval().toString.toLong)).queryExecution.analyzed
      case Seq(d, r) if r.foldable && r.dataType == StringType && r.eval() != null =>
        // string second argument = branch or tag name (AT BRANCH|TAG inline)
        SnapshotTable.forPath(spark, dirArg("lake_scan", Seq(d)))
          .readRef(r.eval().toString).queryExecution.analyzed
      case _ => throw new IllegalArgumentException(
        "lake_scan expects lake_scan('<table dir>'[, <version> | '<branch|tag>'])")
    }
  }

  private def cachedResult(args: Seq[Expression]): LogicalPlan = {
    val sql = dirArg("cached", args)
    val spark = SparkSession.active
    graft.accel.ResultCache.cached(spark.sql(sql)).queryExecution.analyzed
  }

  private def lakeRefs(args: Seq[Expression]): LogicalPlan = {
    val t = SnapshotTable.forPath(SparkSession.active, dirArg("lake_refs", args))
    val rows = t.listRefs.map(r => Row(r.name, r.refType, r.baseVersion))
    LocalRelation.fromExternalRows(
      attrs("name" -> StringType, "type" -> StringType,
        "base_version" -> LongType),
      rows)
  }
}

package graft.server.flight

import java.nio.charset.StandardCharsets

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Flight SQL semantics behind [[GraftFlightServer]]'s wire dispatch: the
  * prepared-statement registry and the catalog-metadata command results
  * (`CommandGetCatalogs` / `CommandGetDbSchemas` / `CommandGetTables` /
  * `CommandGetTableTypes` / `CommandGetSqlInfo`) a stock ADBC/Flight SQL
  * client probes on connect.
  *
  * Reference shape: `services/arrow-flight/src/main/java/com/dremio/
  * service/flight/DremioFlightProducer.java:89` (command dispatch),
  * `:236` (prepared statements); catalog commands are served there by a
  * producer-side metadata provider — here they are plain DataFrames over
  * the session catalog, so Spark supplies the Arrow result path and the
  * same grant-visibility filtering as ListFlights applies.
  *
  * Result schemas follow the published FlightSql.proto column contracts
  * (`catalog_name`, `db_schema_name`, `table_name`, `table_type`,
  * `table_schema`); `GetSqlInfo`'s dense-union value column cannot be
  * expressed as a DataFrame, so that one batch is hand-built with
  * arrow-vector and serialized through the same IPC framing as every
  * other stream.
  */
private[graft] object GraftFlightSql {

  // ---- prepared statements ----------------------------------------------

  /** A prepared statement is re-executable until closed (Flight SQL
    * contract) — unlike ad-hoc statement tickets, which die at first
    * DoGet. The SQL text is re-planned per execution so each run sees
    * current data; the handle is owned by the principal that prepared
    * it. `params` holds the positional parameter rows a client bound via
    * DoPut(CommandPreparedStatementQuery) — the
    * `acceptPutPreparedStatementQuery` path (reference
    * `DremioFlightProducer.java:437`) — consumed by the next execution;
    * each row's values substitute the statement's `?` markers in order. */
  final class Prepared(val sql: String, val owner: Option[String], val bornMs: Long) {
    val lastUsedMs = new java.util.concurrent.atomic.AtomicLong(bornMs)
    val params = new java.util.concurrent.atomic.AtomicReference[Seq[Array[Any]]](Nil)
  }
  private val prepared = TrieMap.empty[String, Prepared]
  private val MaxPrepared = 1000
  /** Handles expire on IDLE time (refreshed at every lookup), not age —
    * an actively-used handle on a long-lived ADBC/JDBC connection must
    * never silently disappear mid-session. */
  val IdleExpiryMs: Long = 60 * 60 * 1000L
  /** The expiry policy, spelled out in NOT_FOUND refusals so a client
    * holding a reaped handle learns why. */
  def expiryHint: String =
    s"(prepared statements expire after ${IdleExpiryMs / 60000} minutes idle)"

  def createPrepared(sql: String, owner: Option[String]): String = {
    reap()
    val handle = java.util.UUID.randomUUID().toString
    prepared.put(handle, new Prepared(sql, owner, System.currentTimeMillis()))
    handle
  }
  def getPrepared(handle: String): Option[Prepared] = {
    reap()
    val p = prepared.get(handle)
    p.foreach(_.lastUsedMs.set(System.currentTimeMillis()))
    p
  }
  def closePrepared(handle: String): Unit = { prepared.remove(handle); () }
  /** Live rows for sys_prepared_statements: (handle, owner, statement,
    * created ms, last-used ms, pending bound param rows). */
  def listPrepared: Seq[(String, String, String, Long, Long, Int)] = {
    reap()
    prepared.toSeq.sortBy(_._2.bornMs).map { case (h, p) =>
      (h, p.owner.getOrElse(""), p.sql.linesIterator.mkString(" ").take(200),
        p.bornMs, p.lastUsedMs.get, p.params.get.size)
    }
  }
  private def reap(): Unit = {
    val cutoff = System.currentTimeMillis() - IdleExpiryMs
    prepared.filterInPlace((_, p) => p.lastUsedMs.get >= cutoff)
    if (prepared.size > MaxPrepared)
      prepared.toSeq.sortBy(_._2.lastUsedMs.get)
        .take(prepared.size - MaxPrepared)
        .foreach { case (k, _) => prepared.remove(k) }
  }

  // ---- catalog commands --------------------------------------------------

  /** The single catalog name this engine exposes over Flight SQL. */
  val CatalogName = "spark_catalog"

  /** SQL LIKE-style search pattern (%, _) → anchored regex. */
  private def patternRegex(p: String): String =
    "^" + p.flatMap {
      case '%' => ".*"
      case '_' => "."
      case c if "\\.^$*+?()|{}[]".indexOf(c) >= 0 => "\\" + c
      case c => c.toString
    } + "$"
  private def matches(pat: Option[String], s: String): Boolean =
    pat.forall(p => s.matches(patternRegex(p)))

  def catalogsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(CatalogName).toDF("catalog_name")
  }

  def dbSchemasDf(spark: SparkSession, cmd: PbSql.GetDbSchemas): DataFrame = {
    import spark.implicits._
    val dbs =
      if (!cmd.catalog.forall(_ == CatalogName)) Seq.empty[String]
      else spark.catalog.listDatabases().collect().map(_.name).toSeq
        .filter(n => matches(cmd.pattern, n)).sorted
    dbs.map(n => (CatalogName, n)).toDF("catalog_name", "db_schema_name")
  }

  def tableTypesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("TABLE", "VIEW").toDF("table_type")
  }

  /** Arrow-schema bytes per table for `include_schema` GetTables calls,
    * keyed by the plan cache's DDL epoch: resolving every visible table
    * is O(catalog) analyzer work per call, and ADBC clients issue the
    * probe on every connect. Any plan-retiring DDL bumps the epoch; the
    * EPOCH IS PART OF THE KEY, so a thread that resolved a schema under
    * the old epoch and inserts after another thread observed the new one
    * can only create an orphan entry that no post-DDL read ever matches
    * (a getAndSet+clear scheme has exactly that stale-serve race). The
    * wholesale clear on epoch change is memory reclaim, not correctness;
    * bounded so a huge catalog can't pin unbounded schema bytes. */
  private val schemaCache = TrieMap.empty[(Long, String), Array[Byte]]
  private val schemaCacheEpoch = new java.util.concurrent.atomic.AtomicLong(-1L)
  private val MaxSchemaCache = 4096
  private def cachedSchemaBytes(root: SparkSession, name: String,
                                cacheable: Boolean): Array[Byte] = {
    // a transient resolve failure returns empty bytes for THIS response
    // but must never be memoized — the epoch only bumps on DDL, so a
    // cached failure would serve an empty schema to every later connect
    def resolve(): Option[Array[Byte]] =
      try Some(GraftFlightServer.schemaIpcBytesOf(root.table(name)))
      catch { case _: Exception => None }
    // temp views redefine without any DDL epoch bump — never cache them
    if (!cacheable) resolve().getOrElse(Array.emptyByteArray)
    else {
      val now = graft.accel.PlanCache.currentEpoch
      if (schemaCacheEpoch.getAndSet(now) != now)
        schemaCache.keysIterator.filter(_._1 != now).foreach(schemaCache.remove)
      schemaCache.get((now, name)) match {
        case Some(bytes) => bytes
        case None =>
          if (schemaCache.size >= MaxSchemaCache) schemaCache.clear()
          resolve() match {
            case Some(bytes) => schemaCache.putIfAbsent((now, name), bytes); bytes
            case None => Array.emptyByteArray
          }
      }
    }
  }

  /** One row per visible dataset; `table_schema` (IPC-encapsulated Arrow
    * schema bytes) only when the client asked for it. Grant visibility
    * mirrors ListFlights: while enforcement is on, only datasets the
    * caller can SELECT appear. */
  def tablesDf(root: SparkSession, session: SparkSession,
               cmd: PbSql.GetTables): DataFrame = {
    import root.implicits._
    val principal = graft.auth.Privileges.principalOf(session)
    val rows: Seq[(String, String, String, String, Array[Byte])] =
      if (!cmd.catalog.forall(c => c == CatalogName || c.isEmpty)) Seq.empty
      else root.catalog.listTables().collect().toSeq
        .filter { t =>
          val db = Option(t.database).getOrElse("")
          matches(cmd.dbPattern, db) && matches(cmd.tablePattern, t.name) &&
            graft.auth.Privileges.visible(principal, t.name)
        }
        .flatMap { t =>
          val tableType =
            if (t.tableType != null && t.tableType.toUpperCase.contains("VIEW")) "VIEW"
            else "TABLE"
          if (cmd.tableTypes.nonEmpty && !cmd.tableTypes.contains(tableType)) None
          else {
            val schemaBytes =
              if (!cmd.includeSchema) Array.emptyByteArray
              else cachedSchemaBytes(root, t.name,
                cacheable = Option(t.database).exists(_.nonEmpty))
            Some((CatalogName, Option(t.database).getOrElse(""),
              t.name, tableType, schemaBytes))
          }
        }
        .sortBy(r => (r._2, r._3))
    val df = rows.toDF("catalog_name", "db_schema_name", "table_name",
      "table_type", "table_schema")
    if (cmd.includeSchema) df else df.drop("table_schema")
  }

  /** CommandGetPrimaryKeys: lake views whose backing table declares an
    * (informational) PRIMARY KEY — `ALTER LAKE ... ADD PRIMARY KEY` —
    * report it here, one row per key column with its 1-based sequence
    * (the JDBC/ADBC contract). Tables without a declared key — and a
    * command without the spec-required `table` filter — yield the empty
    * relation with the spec's column contract (ADBC probes these on
    * connect and chokes on a refused RPC where empty is the answer).
    * Imported/exported keys stay empty: the engine declares no foreign
    * keys. */
  def primaryKeysDf(spark: SparkSession, table: Option[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val rows: Seq[org.apache.spark.sql.Row] = table.toSeq.flatMap { t =>
      graft.catalog.LakeViews.dirOf(t).toSeq
        // the registry is advisory: the view must still exist
        .filter(_ => scala.util.Try(spark.catalog.tableExists(t)).getOrElse(false))
        .flatMap { dir =>
          graft.sources.SnapshotTable.forPath(spark, dir).primaryKey
            .zipWithIndex.map { case (c, i) =>
              org.apache.spark.sql.Row("graft", "session", t.toLowerCase,
                c, s"pk_${t.toLowerCase}", i + 1)
            }
        }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, numSlices = 1),
      StructType(Seq(
        StructField("catalog_name", StringType), StructField("db_schema_name", StringType),
        StructField("table_name", StringType), StructField("column_name", StringType),
        StructField("key_name", StringType), StructField("key_sequence", IntegerType))))
  }
  def foreignKeysDf(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("pk_catalog_name", StringType), StructField("pk_db_schema_name", StringType),
        StructField("pk_table_name", StringType), StructField("pk_column_name", StringType),
        StructField("fk_catalog_name", StringType), StructField("fk_db_schema_name", StringType),
        StructField("fk_table_name", StringType), StructField("fk_column_name", StringType),
        StructField("key_sequence", IntegerType), StructField("fk_key_name", StringType),
        StructField("pk_key_name", StringType),
        // spec says uint8; Spark's closest Arrow-expressible type is int8
        StructField("update_rule", ByteType), StructField("delete_rule", ByteType))))
  }

  /** CommandGetXdbcTypeInfo (reference `DremioFlightProducer.java:480
    * getFlightInfoTypeInfo` / `:491 getStreamTypeInfo`): one row per SQL
    * type this engine surfaces, with the spec's column contract —
    * ADBC/JDBC drivers probe it on connect to build their type mapping.
    * `data_type` codes are the XDBC (java.sql.Types) constants; the
    * optional filter narrows to one code. */
  def typeInfoDf(spark: SparkSession, dataType: Option[Int]): DataFrame = {
    import org.apache.spark.sql.types._
    // (type_name, data_type, column_size, literal_prefix, literal_suffix,
    //  create_params, nullable, case_sensitive, searchable,
    //  unsigned_attribute, fixed_prec_scale, auto_increment,
    //  local_type_name, minimum_scale, maximum_scale, sql_data_type,
    //  datetime_subcode, num_prec_radix, interval_precision)
    // nullable: 1 = NULLABLE; searchable: 3 = SEARCHABLE (all predicates)
    def row(name: String, code: Int, size: Integer, prefix: String,
            suffix: String, params: Seq[String], caseSens: Boolean,
            unsigned: java.lang.Boolean, fixedPrec: Boolean,
            minScale: Integer, maxScale: Integer, radix: Integer,
            subcode: Integer = null) =
      org.apache.spark.sql.Row(name, code, size, prefix, suffix,
        params, 1, caseSens, 3, unsigned, fixedPrec, false,
        name, minScale, maxScale, code, subcode, radix, null)
    val I = (i: Int) => Integer.valueOf(i)
    val rows: Seq[org.apache.spark.sql.Row] = Seq(
      row("BOOLEAN", 16, I(1), null, null, Nil, caseSens = false, null, fixedPrec = false, null, null, null),
      row("TINYINT", -6, I(3), null, null, Nil, caseSens = false, false, fixedPrec = false, I(0), I(0), I(10)),
      row("SMALLINT", 5, I(5), null, null, Nil, caseSens = false, false, fixedPrec = false, I(0), I(0), I(10)),
      row("INTEGER", 4, I(10), null, null, Nil, caseSens = false, false, fixedPrec = false, I(0), I(0), I(10)),
      row("BIGINT", -5, I(19), null, null, Nil, caseSens = false, false, fixedPrec = false, I(0), I(0), I(10)),
      row("FLOAT", 6, I(7), null, null, Nil, caseSens = false, false, fixedPrec = false, null, null, I(2)),
      row("DOUBLE", 8, I(15), null, null, Nil, caseSens = false, false, fixedPrec = false, null, null, I(2)),
      row("DECIMAL", 3, I(38), null, null, Seq("precision", "scale"), caseSens = false, false, fixedPrec = true, I(0), I(38), I(10)),
      row("VARCHAR", 12, I(65536), "'", "'", Seq("length"), caseSens = true, null, fixedPrec = false, null, null, null),
      row("VARBINARY", -3, I(65536), "X'", "'", Nil, caseSens = false, null, fixedPrec = false, null, null, null),
      row("DATE", 91, I(10), "DATE '", "'", Nil, caseSens = false, null, fixedPrec = false, null, null, null, subcode = I(1)),
      row("TIMESTAMP", 93, I(29), "TIMESTAMP '", "'", Nil, caseSens = false, null, fixedPrec = false, I(0), I(6), null, subcode = I(3)),
    ).filter(r => dataType.forall(_ == r.getInt(1)))
    val schema = StructType(Seq(
      StructField("type_name", StringType, nullable = false),
      StructField("data_type", IntegerType, nullable = false),
      StructField("column_size", IntegerType),
      StructField("literal_prefix", StringType),
      StructField("literal_suffix", StringType),
      StructField("create_params", ArrayType(StringType, containsNull = false)),
      StructField("nullable", IntegerType, nullable = false),
      StructField("case_sensitive", BooleanType, nullable = false),
      StructField("searchable", IntegerType, nullable = false),
      StructField("unsigned_attribute", BooleanType),
      StructField("fixed_prec_scale", BooleanType, nullable = false),
      StructField("auto_increment", BooleanType),
      StructField("local_type_name", StringType),
      StructField("minimum_scale", IntegerType),
      StructField("maximum_scale", IntegerType),
      StructField("sql_data_type", IntegerType, nullable = false),
      StructField("datetime_subcode", IntegerType),
      StructField("num_prec_radix", IntegerType),
      StructField("interval_precision", IntegerType)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava), schema)
  }

  // ---- GetSqlInfo (dense-union result, hand-built) -----------------------

  /** FlightSql.proto SqlInfo keys served (the set a stock ADBC driver
    * probes on connect: server identity, mutability, identifier quoting
    * and case rules, NULL ordering, keyword list). */
  private val ServerName = 0         // string
  private val ServerVersion = 1      // string
  private val ArrowVersion = 2       // string
  private val ReadOnly = 3           // bool
  private val ServerSql = 4          // bool  (FLIGHT_SQL_SERVER_SQL)
  private val DdlCatalog = 500       // bool  (SQL_DDL_CATALOG)
  private val DdlSchema = 501        // bool  (SQL_DDL_SCHEMA)
  private val DdlTable = 502         // bool  (SQL_DDL_TABLE)
  private val IdentifierCase = 503   // int64 (SqlSupportedCaseSensitivity)
  private val IdentifierQuote = 504  // string
  private val QuotedIdentCase = 505  // int64
  private val AllTablesSelectable = 506 // bool
  private val NullOrdering = 507     // int64 (SqlNullOrdering)
  private val Keywords = 508         // list<utf8>

  /** SqlSupportedCaseSensitivity.SQL_CASE_SENSITIVITY_CASE_INSENSITIVE:
    * Spark resolves identifiers case-insensitively by default (and so
    * does this engine — `spark.sql.caseSensitive=false`). */
  private val CaseInsensitive = 1L
  /** SqlNullOrdering.SQL_NULLS_SORTED_LOW: Spark sorts NULLS FIRST
    * ascending / LAST descending — nulls compare low. */
  private val NullsSortedLow = 1L

  /** Non-reserved engine keyword list served for SQL_KEYWORDS (the
    * extension surface beyond entry-level SQL — what JDBC's
    * getSQLKeywords reports). */
  private val KeywordList: Seq[String] = Seq(
    "LAKE", "REFLECTION", "PIPE", "QUEUE", "BRANCH", "TAG", "MATERIALIZATION",
    "QUALIFY", "SEMI", "ANTI", "MINUS", "OPTIMIZE", "VACUUM", "ROLLBACK")

  private sealed trait InfoVal
  private final case class SVal(s: String) extends InfoVal
  private final case class BVal(b: Boolean) extends InfoVal
  private final case class IVal(i: Long) extends InfoVal
  private final case class LVal(xs: Seq[String]) extends InfoVal

  /** The GetSqlInfo result as (IPC schema frame payloads): one schema
    * header + one record batch, framed exactly like every other stream.
    * Schema per the spec: info_name uint32 not null, value
    * dense_union<string_value, bool_value, bigint_value, string_list>.
    * Returns (schema, encapsulated IPC batch messages). */
  def sqlInfoIpc(requested: Seq[Int])
      : (org.apache.arrow.vector.types.pojo.Schema, Seq[Array[Byte]]) = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, UInt4Vector, VarCharVector, BitVector, VectorSchemaRoot, VectorUnloader}
    import org.apache.arrow.vector.complex.{DenseUnionVector, ListVector}
    import org.apache.arrow.vector.holders.{NullableVarCharHolder, NullableBitHolder, NullableBigIntHolder}
    import org.apache.arrow.vector.ipc.message.MessageSerializer
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}

    val infos: Seq[(Int, InfoVal)] = Seq(
      ServerName -> SVal("graft"),
      ServerVersion -> SVal("0.1.0"),
      ArrowVersion -> SVal("18.3.0"),
      ReadOnly -> BVal(false),
      ServerSql -> BVal(true),
      DdlCatalog -> BVal(false),
      DdlSchema -> BVal(true),
      DdlTable -> BVal(true),
      IdentifierCase -> IVal(CaseInsensitive),
      IdentifierQuote -> SVal("`"),
      QuotedIdentCase -> IVal(CaseInsensitive),
      AllTablesSelectable -> BVal(true),
      NullOrdering -> IVal(NullsSortedLow),
      Keywords -> LVal(KeywordList),
    ).filter { case (k, _) => requested.isEmpty || requested.contains(k) }

    val allocator = new RootAllocator()
    try {
      val nameVec = new UInt4Vector(
        new Field("info_name",
          new FieldType(false, new ArrowType.Int(32, false), null), null),
        allocator)
      val duv = DenseUnionVector.empty("value", allocator)
      val strId = duv.registerNewTypeId(Field.nullable("string_value", ArrowType.Utf8.INSTANCE))
      val boolId = duv.registerNewTypeId(Field.nullable("bool_value", ArrowType.Bool.INSTANCE))
      val intId = duv.registerNewTypeId(Field.nullable("bigint_value", new ArrowType.Int(64, true)))
      val listId = duv.registerNewTypeId(new Field("string_list",
        FieldType.nullable(ArrowType.List.INSTANCE),
        java.util.List.of(Field.nullable("item", ArrowType.Utf8.INSTANCE))))
      duv.addVector(strId, new VarCharVector("string_value", allocator))
      duv.addVector(boolId, new BitVector("bool_value", allocator))
      duv.addVector(intId, new BigIntVector("bigint_value", allocator))
      // addVector TRANSFERS into an internal child and returns it — all
      // writes must go through the returned vector, not the donor
      val listVec = {
        val donor = ListVector.empty("string_list", allocator)
        donor.addOrGetVector[org.apache.arrow.vector.VarCharVector](
          FieldType.nullable(ArrowType.Utf8.INSTANCE))
        try duv.addVector(listId, donor).asInstanceOf[ListVector]
        finally donor.close()
      }
      duv.allocateNew(); nameVec.allocateNew()
      var listRows = 0
      infos.zipWithIndex.foreach { case ((key, value), i) =>
        nameVec.setSafe(i, key)
        value match {
          case SVal(s) =>
            duv.setTypeId(i, strId)
            val h = new NullableVarCharHolder
            val bytes = s.getBytes(StandardCharsets.UTF_8)
            val buf = allocator.buffer(bytes.length.toLong)
            try {
              buf.writeBytes(bytes)
              h.isSet = 1; h.buffer = buf; h.start = 0; h.end = bytes.length
              duv.setSafe(i, h)
            } finally buf.close()
          case BVal(b) =>
            duv.setTypeId(i, boolId)
            val h = new NullableBitHolder
            h.isSet = 1; h.value = if (b) 1 else 0
            duv.setSafe(i, h)
          case IVal(v) =>
            duv.setTypeId(i, intId)
            val h = new NullableBigIntHolder
            h.isSet = 1; h.value = v
            duv.setSafe(i, h)
          case LVal(xs) =>
            // complex union child: write the list at the child's own next
            // index, then point the union's (type, offset) at it by hand —
            // the scalar setSafe helpers only cover holder types
            val w = listVec.getWriter
            w.setPosition(listRows)
            w.startList()
            xs.foreach(s => w.varChar().writeVarChar(s))
            w.endList()
            duv.setTypeId(i, listId)
            duv.setOffset(i, listRows)
            listRows += 1
        }
      }
      listVec.setValueCount(listRows)
      nameVec.setValueCount(infos.size); duv.setValueCount(infos.size)
      val root = new VectorSchemaRoot(java.util.List.of(
        nameVec.asInstanceOf[org.apache.arrow.vector.FieldVector],
        duv.asInstanceOf[org.apache.arrow.vector.FieldVector]))
      try {
        val batch = new VectorUnloader(root).getRecordBatch
        try {
          val out = new java.io.ByteArrayOutputStream()
          MessageSerializer.serialize(
            new org.apache.arrow.vector.ipc.WriteChannel(
              java.nio.channels.Channels.newChannel(out)), batch)
          (root.getSchema, Seq(out.toByteArray))
        } finally batch.close()
      } finally root.close()
    } finally allocator.close()
  }
}

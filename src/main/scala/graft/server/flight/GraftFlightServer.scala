package graft.server.flight

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.channels.Channels

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.sparkproject.connect.grpc
import org.sparkproject.connect.grpc.stub.{ServerCalls, StreamObserver}

/** Arrow Flight endpoint: the reference's fourth wire protocol
  * (`services/arrow-flight/src/main/java/com/dremio/service/flight/
  * DremioFlightProducer.java:89` getFlightInfo, :117 getStream). A
  * Flight client submits SQL as a CMD FlightDescriptor, gets a
  * FlightInfo whose endpoint ticket names the planned statement (eager
  * commands execute exactly once, at submission), and DoGet
  * streams the result as Arrow record batches — the columnar bulk-
  * extraction path ADBC/pyarrow clients default to.
  *
  * The sandbox ships no arrow-flight or grpc-java artifacts, so this
  * speaks the PUBLIC protocol from first principles:
  *  - transport: the gRPC runtime Spark Connect shades
  *    (`org.sparkproject.connect.grpc`), serving the literal
  *    `arrow.flight.protocol.FlightService` service/method names with a
  *    raw byte marshaller;
  *  - messages: hand-framed protobuf per the public Flight.proto
  *    ([[Pb]]);
  *  - data plane: real Arrow IPC — the schema/batch flatbuffer metadata
  *    and buffer bodies come from arrow-vector's MessageSerializer and
  *    Spark's own columnar result path (Bridge.runArrow), split into
  *    FlightData {data_header, data_body} frames exactly as
  *    arrow-java's flight-core frames them.
  *
  * Statements take the shared path of [[graft.server.Statements]]: the
  * request session comes from its opener, which verifies
  * `authorization: Basic` headers against [[graft.auth.Privileges]] and
  * exchanges them for a bearer token (the `authenticate_basic_token`
  * flow); while enforcement is ON, statements require a valid principal
  * and run with it bound, so row policies/masking/grants all apply on
  * this wire too. A DoGet runs its statement once inside one SQL
  * execution, so `CANCEL QUERY`, the ledger and the query history see it
  * as they see any other statement.
  *
  * Scale: a thin protocol adapter like the other three front ends —
  * plans execute on the cluster; the result streams batch-by-batch, one
  * partition's batches in driver memory at a time, never a collected row
  * array.
  */
object GraftFlightServer {

  private val ServiceName = "arrow.flight.protocol.FlightService"

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  @volatile private var running: Option[grpc.Server] = None
  @volatile private var boundPort: Option[Int] = None

  // ---- gRPC plumbing ----------------------------------------------------

  private object BytesMarshaller extends grpc.MethodDescriptor.Marshaller[Array[Byte]] {
    override def stream(b: Array[Byte]): InputStream = new ByteArrayInputStream(b)
    override def parse(in: InputStream): Array[Byte] = in.readAllBytes()
  }

  private def method(name: String, mt: grpc.MethodDescriptor.MethodType)
      : grpc.MethodDescriptor[Array[Byte], Array[Byte]] =
    grpc.MethodDescriptor.newBuilder(BytesMarshaller, BytesMarshaller)
      .setFullMethodName(s"$ServiceName/$name")
      .setType(mt).build()

  private val AuthHeader =
    grpc.Metadata.Key.of("authorization", grpc.Metadata.ASCII_STRING_MARSHALLER)
  /** Request's authorization header, carried into handlers. */
  private val CtxAuth: grpc.Context.Key[String] = grpc.Context.key("graft-flight-auth")
  /** The bearer token a Handshake's Basic header was exchanged for. */
  private val CtxBearer: grpc.Context.Key[Option[String]] =
    grpc.Context.keyWithDefault("graft-flight-bearer", None)

  // ---- auth -------------------------------------------------------------

  private def unauthenticated(msg: String): grpc.StatusRuntimeException =
    grpc.Status.UNAUTHENTICATED.withDescription(msg).asRuntimeException()

  /** The request session from the shared opener, the call's authorization
    * header bound. UNAUTHENTICATED for a present-but-invalid header, or
    * for a missing one while enforcement is on. */
  private def session(root: SparkSession): SparkSession =
    graft.server.Statements.open(root,
      graft.server.Statements.Credentials(Option(CtxAuth.get())), required = true)
      .fold(reason => throw unauthenticated(s"flight: $reason"), _.session)

  /** Refuse unless `session`'s principal is `owner`: prepared handles and
    * statement tickets belong to the principal they were issued to. */
  private def requireOwner(session: SparkSession, owner: Option[String], what: String): Unit =
    if (owner != graft.auth.Privileges.principalOf(session).map(_.name))
      throw unauthenticated(s"$what belongs to a different principal")

  // ---- Arrow IPC framing --------------------------------------------------

  /** Encapsulated IPC Schema message ([continuation][len][flatbuffer]) —
    * the `FlightInfo.schema` / `SchemaResult.schema` wire form. */
  private def schemaIpcBytes(schema: org.apache.arrow.vector.types.pojo.Schema)
      : Array[Byte] = {
    val out = new ByteArrayOutputStream()
    org.apache.arrow.vector.ipc.message.MessageSerializer.serialize(
      new org.apache.arrow.vector.ipc.WriteChannel(Channels.newChannel(out)), schema)
    out.toByteArray
  }

  /** Unframed flatbuffer Message bytes for the schema — the
    * `FlightData.data_header` form of the stream's first frame. */
  private def schemaHeaderBytes(schema: org.apache.arrow.vector.types.pojo.Schema)
      : Array[Byte] = {
    val bb = org.apache.arrow.vector.ipc.message.MessageSerializer
      .serializeMetadata(schema,
        org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT)
    val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b
  }

  private[flight] def schemaIpcBytesOf(df: DataFrame): Array[Byte] =
    schemaIpcBytes(org.apache.spark.sql.graft.Bridge.arrowSchema(df))

  /** Inverse of [[splitIpcMessage]]: re-frame a FlightData
    * (data_header, data_body) pair as one encapsulated IPC message —
    * [continuation 0xFFFFFFFF][metadata len][flatbuffer, zero-padded to
    * 8-byte alignment][body] — the form ArrowConverters.fromIPCStream
    * consumes. The metadata length covers the padding, per the IPC spec
    * (the body must start 8-byte aligned). */
  private[flight] def frameIpcMessage(header: Array[Byte], body: Array[Byte])
      : Array[Byte] = {
    val padded = (header.length + 7) / 8 * 8
    val bb = java.nio.ByteBuffer.allocate(8 + padded + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(-1).putInt(padded).put(header)
    bb.position(8 + padded)
    bb.put(body)
    bb.array()
  }

  /** Split one encapsulated IPC message (what Bridge.runArrow emits)
    * into (metadata flatbuffer, body) — the FlightData frame pair. */
  private[flight] def splitIpcMessage(msg: Array[Byte]): (Array[Byte], Array[Byte]) = {
    def le32(off: Int): Int =
      (msg(off) & 0xff) | ((msg(off + 1) & 0xff) << 8) |
        ((msg(off + 2) & 0xff) << 16) | ((msg(off + 3) & 0xff) << 24)
    require(msg.length >= 8, "ipc: truncated message")
    val (metaLen, metaStart) =
      if (le32(0) == -1) (le32(4), 8) // v5 framing: continuation marker
      else (le32(0), 4)               // legacy framing
    val meta = java.util.Arrays.copyOfRange(msg, metaStart, metaStart + metaLen)
    val body = java.util.Arrays.copyOfRange(msg, metaStart + metaLen, msg.length)
    (meta, body)
  }

  // ---- statement handling -------------------------------------------------

  /** GetFlightInfo plans (and, for eager commands, executes) the
    * statement ONCE; the ticket names the planned result so DoGet
    * streams it without re-executing — a `CREATE LAKE` submitted over
    * Flight must not run twice. Entries expire after 10 minutes and die
    * at first use; an unknown ticket falls back to SQL-in-ticket
    * (stateless DoGet, reference getStream shape) for pure reads. */
  private final case class Pending(df: DataFrame, owner: Option[String], bornMs: Long)
  private val pending = scala.collection.concurrent.TrieMap.empty[String, Pending]
  private val MaxPending = 1000
  private def reapPending(): Unit = {
    val cutoff = System.currentTimeMillis() - 10 * 60 * 1000L
    pending.filterInPlace((_, p) => p.bornMs >= cutoff)
    // size backstop: clients that plan but never DoGet must not pin
    // unbounded plans — oldest tickets expire first
    if (pending.size > MaxPending)
      pending.toSeq.sortBy(_._2.bornMs)
        .take(pending.size - MaxPending)
        .foreach { case (k, _) => pending.remove(k) }
  }

  /** Frames a stream's producer thread may queue ahead of the client. */
  private val HandoffFrames = 8

  /** Stream `df` to the client as Arrow FlightData frames (schema frame
    * first, then each IPC batch split into {data_header, data_body}),
    * from one run of the statement inside one SQL execution named
    * `action` — the ledger attributes and cancels its jobs, and the
    * query history records it. */
  private def streamResult(df: DataFrame, action: String,
                           obs: StreamObserver[Array[Byte]]): Unit =
    stream(org.apache.spark.sql.graft.Bridge.arrowSchema(df), obs)(
      org.apache.spark.sql.graft.Bridge.runArrow(df, action))

  /** Stream pre-built Arrow IPC messages (schema + batches) as FlightData
    * frames — the non-DataFrame result path (GetSqlInfo's dense-union
    * batch). */
  private def streamIpc(schema: org.apache.arrow.vector.types.pojo.Schema,
                        batches: Seq[Array[Byte]],
                        obs: StreamObserver[Array[Byte]]): Unit =
    stream(schema, obs)(emit => batches.foreach(emit))

  /** The schema frame, then every IPC message `produce` emits, framed.
    * `produce` runs on a thread of its own, the one thread an in-flight
    * stream holds: it hands frames through a bounded queue and blocks
    * while the queue is full. The gRPC side is the non-blocking drain:
    * it sends while the transport reports ready and returns when the
    * window closes or the queue is empty, and the next onReady or the
    * next hand-off re-enters it. A counter lets only one thread run the
    * drain at a time, so the call is never used from two threads at
    * once, and no gRPC callback thread ever waits for the client. A
    * client cancel interrupts the producer. */
  private def stream(schema: org.apache.arrow.vector.types.pojo.Schema,
                     obs: StreamObserver[Array[Byte]])
                    (produce: (Array[Byte] => Unit) => Unit): Unit = {
    val call = obs.asInstanceOf[
      org.sparkproject.connect.grpc.stub.ServerCallStreamObserver[Array[Byte]]]
    val frames = new java.util.concurrent.ArrayBlockingQueue[Array[Byte]](HandoffFrames)
    @volatile var end: Option[Option[Throwable]] = None // the producer's outcome
    @volatile var closed = false
    val wip = new java.util.concurrent.atomic.AtomicInteger()
    def drain(): Unit = if (wip.getAndIncrement() == 0) {
      var missed = 1
      while (missed != 0) {
        if (!closed) {
          while (call.isReady && !frames.isEmpty) call.onNext(frames.poll())
          if (frames.isEmpty) end.foreach { failure =>
            closed = true
            failure.fold(obs.onCompleted())(fail(obs, _))
          }
        }
        missed = wip.addAndGet(-missed)
      }
    }
    def put(frame: Array[Byte]): Unit = { frames.put(frame); drain() }
    val producer = new Thread(() => {
      end = Some(
        try {
          put(Pb.writeFlightData(schemaHeaderBytes(schema), Array.emptyByteArray))
          produce { m =>
            val (header, body) = splitIpcMessage(m)
            put(Pb.writeFlightData(header, body))
          }
          None
        } catch { case t: Throwable => Some(t) })
      drain()
    }, "graft-flight-stream")
    producer.setDaemon(true)
    call.setOnCancelHandler(() => { closed = true; producer.interrupt() })
    call.setOnReadyHandler(() => drain())
    producer.start()
  }

  /** Cap for DoPut streams that CANNOT spill (parameter bindings and
    * uploads whose Arrow types the staged-file reader doesn't cover):
    * those decode through a driver-materialized local relation (Spark
    * Connect's contract), so the accepted volume is bounded. Bulk-shaped
    * ingest never hits this — it spills to staged Arrow files
    * ([[PutStage]]) and lands via a distributed read. */
  private val MaxPutBytes: Long = 512L * 1024 * 1024

  /** Disk guard for spilled DoPut ingest (staged bytes, not heap). */
  private val MaxPutStagedBytes: Long = 64L * 1024 * 1024 * 1024

  /** Staged files roll at this size so the landing read parallelizes. */
  private val PutRollBytes: Long = 128L * 1024 * 1024

  /** Test/diagnostic: how many DoPut streams landed via the spill path. */
  private[graft] val spilledPuts = new java.util.concurrent.atomic.AtomicLong()

  /** Rolling spill of an incoming DoPut ingest stream to staged Arrow IPC
    * *file*-format files: each arriving record batch deserializes off the
    * wire, writes through an ArrowFileWriter, and is released — driver
    * memory stays O(one batch) regardless of upload size (the r10 review's
    * bulk-ingest gap). Files roll at [[PutRollBytes]] so the landing
    * [[graft.sources.ArrowFiles.read]] distributes one task per file.
    * The staging directory must be shared storage on multi-node
    * deployments (`spark.graft.flight.staging`, default local tmp —
    * correct for local mode). */
  private final class PutStage(dir: java.nio.file.Path) {
    import org.apache.arrow.vector.ipc.message.MessageSerializer
    private val alloc = new org.apache.arrow.memory.RootAllocator()
    private var schema: org.apache.arrow.vector.types.pojo.Schema = _
    private var root: org.apache.arrow.vector.VectorSchemaRoot = _
    private var loader: org.apache.arrow.vector.VectorLoader = _
    private var writer: org.apache.arrow.vector.ipc.ArrowFileWriter = _
    private var channel: java.nio.channels.WritableByteChannel = _
    private var fileIdx = 0
    private var fileBytes = 0L
    var stagedBytes = 0L

    private def readChannel(framed: Array[Byte]) =
      new org.apache.arrow.vector.ipc.ReadChannel(Channels.newChannel(
        new ByteArrayInputStream(framed)))

    def start(schemaFramed: Array[Byte]): Unit = {
      schema = MessageSerializer.deserializeSchema(readChannel(schemaFramed))
      root = org.apache.arrow.vector.VectorSchemaRoot.create(schema, alloc)
      loader = new org.apache.arrow.vector.VectorLoader(root)
      openFile()
    }
    private def openFile(): Unit = {
      val p = dir.resolve(f"part-$fileIdx%05d.arrow")
      channel = java.nio.channels.Channels.newChannel(
        java.nio.file.Files.newOutputStream(p))
      writer = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, channel)
      writer.start()
      fileIdx += 1; fileBytes = 0L
    }
    def writeBatch(framed: Array[Byte]): Unit = {
      if (fileBytes >= PutRollBytes) { writer.end(); writer.close(); openFile() }
      val batch = MessageSerializer.deserializeRecordBatch(readChannel(framed), alloc)
      try { loader.load(batch); writer.writeBatch() }
      finally { batch.close(); root.clear() }
      fileBytes += framed.length; stagedBytes += framed.length
      if (stagedBytes > MaxPutStagedBytes)
        throw grpc.Status.RESOURCE_EXHAUSTED.withDescription(
          s"flight: DoPut staged volume exceeds $MaxPutStagedBytes bytes")
          .asRuntimeException()
    }
    def finish(): Unit = { if (writer != null) { writer.end(); writer.close() }; cleanup() }
    def cleanup(): Unit = {
      if (root != null) { root.close(); root = null }
      alloc.close()
    }
  }

  /** Arrow field types [[graft.sources.ArrowFiles]]'s distributed reader
    * decodes — uploads outside this set fall back to the driver-local
    * path (capped), keeping full Arrow type coverage for small puts. */
  private def stageable(schemaFramed: Array[Byte]): Boolean =
    try {
      import scala.jdk.CollectionConverters._
      val s = org.apache.arrow.vector.ipc.message.MessageSerializer
        .deserializeSchema(new org.apache.arrow.vector.ipc.ReadChannel(
          Channels.newChannel(new ByteArrayInputStream(schemaFramed))))
      s.getFields.asScala.forall { f =>
        import org.apache.arrow.vector.types.pojo.ArrowType
        f.getType match {
          case i: ArrowType.Int => Seq(8, 16, 32, 64).contains(i.getBitWidth)
          case _: ArrowType.FloatingPoint | _: ArrowType.Utf8 |
               _: ArrowType.Bool | _: ArrowType.Binary => true
          case _ => false
        }
      }
    } catch { case _: Exception => false }

  /** Land a DoPut upload: PATH naming a lake directory (contains '/') →
    * atomic lake append/create; PATH naming a catalog dataset → INSERT
    * INTO the existing table. Requires INSERT on the target while
    * enforcement is on. Returns the ingested row count. */
  private def ingestPut(root: SparkSession, session: SparkSession,
                        desc: Pb.FlightDescriptor, df: DataFrame): Long = {
    def requireInsert(obj: String): Unit = {
      val p = graft.auth.Privileges
      if (p.enforcing) {
        val u = p.principalOf(session).getOrElse(throw unauthenticated(
          "flight: DoPut requires credentials while auth enforcement is on"))
        if (!p.allowed(u, "insert", p.normObj(obj)))
          throw grpc.Status.PERMISSION_DENIED.withDescription(
            s"flight: principal '${u.name}' lacks INSERT on $obj")
            .asRuntimeException()
      }
    }
    if (desc.descType != 1 || desc.path.isEmpty)
      throw grpc.Status.INVALID_ARGUMENT.withDescription(
        "flight: DoPut needs a PATH descriptor naming a lake directory " +
          "or a catalog table").asRuntimeException()
    val rows = df.count()
    desc.path match {
      case Seq(dir) if dir.contains("/") =>
        requireInsert(dir)
        if (graft.sources.SnapshotTable.isLakeTable(dir))
          graft.sources.SnapshotTable.forPath(session, dir).append(df)
        else graft.sources.SnapshotTable.create(session, dir, df)
      case segments =>
        val name = segments.map(s => "`" + s.replace("`", "``") + "`").mkString(".")
        requireInsert(segments.mkString("."))
        // existing catalog table, by-position append (listener records it)
        df.write.insertInto(name)
    }
    rows
  }

  private def fail(obs: StreamObserver[Array[Byte]], t: Throwable): Unit = t match {
    case s: grpc.StatusRuntimeException => obs.onError(s)
    case e =>
      obs.onError(grpc.Status.INVALID_ARGUMENT
        .withDescription(Option(e.getMessage).getOrElse(e.toString).take(600))
        .asRuntimeException())
  }

  // ---- service ------------------------------------------------------------

  private def service(root: SparkSession): grpc.ServerServiceDefinition = {
    val getFlightInfo = method("GetFlightInfo", grpc.MethodDescriptor.MethodType.UNARY)
    val getSchema = method("GetSchema", grpc.MethodDescriptor.MethodType.UNARY)
    val doGet = method("DoGet", grpc.MethodDescriptor.MethodType.SERVER_STREAMING)
    val doPut = method("DoPut", grpc.MethodDescriptor.MethodType.BIDI_STREAMING)
    val doAction = method("DoAction", grpc.MethodDescriptor.MethodType.SERVER_STREAMING)
    val handshake = method("Handshake", grpc.MethodDescriptor.MethodType.BIDI_STREAMING)
    val listFlights = method("ListFlights", grpc.MethodDescriptor.MethodType.SERVER_STREAMING)
    val listActions = method("ListActions", grpc.MethodDescriptor.MethodType.SERVER_STREAMING)

    def locations = Seq(s"grpc://localhost:${boundPort.getOrElse(0)}")

    def sqlOf(desc: Pb.FlightDescriptor): String =
      if (desc.descType == 2 && desc.cmd.nonEmpty)
        new String(desc.cmd, StandardCharsets.UTF_8)
      else if (desc.descType == 1 && desc.path.nonEmpty)
        // PATH descriptor names a catalog dataset (the reference serves
        // both shapes) — quote each segment so odd names can't inject
        "SELECT * FROM " +
          desc.path.map(p => "`" + p.replace("`", "``") + "`").mkString(".")
      else throw grpc.Status.INVALID_ARGUMENT.withDescription(
        "flight: submit a CMD descriptor (SQL bytes) or a PATH descriptor " +
          "(catalog dataset)").asRuntimeException()

    def notFound(msg: String): grpc.StatusRuntimeException =
      grpc.Status.NOT_FOUND.withDescription(msg).asRuntimeException()
    def unimplemented(msg: String): grpc.StatusRuntimeException =
      grpc.Status.UNIMPLEMENTED.withDescription(msg).asRuntimeException()

    /** A prepared statement analyzed WITHOUT executing it, for its
      * dataset schema: None for statements that parse to commands (or
      * that only the graft extension parser accepts — they run eagerly
      * when planned) and for statements with unbound `?` parameter
      * markers (their schema is knowable only at execution, once
      * parameters are bound — the spec allows the empty dataset schema).
      * Preparing, and GetFlightInfo/GetSchema on a prepared handle, must
      * never run the statement — only DoGet executes. */
    def analyzedOnly(session: SparkSession, sql: String): Option[DataFrame] =
      try {
        val parsed = session.sessionState.sqlParser.parsePlan(sql)
        if (parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command]) None
        else Some(org.apache.spark.sql.graft.Bridge.ofRows(session, parsed))
      } catch {
        case _: org.apache.spark.sql.catalyst.parser.ParseException |
             _: org.apache.spark.sql.AnalysisException => None
      }

    def preparedSchemaIpc(session: SparkSession, sql: String): Array[Byte] =
      analyzedOnly(session, sql).map(schemaIpcBytesOf).getOrElse(schemaIpcBytes(
        new org.apache.arrow.vector.types.pojo.Schema(java.util.List.of())))

    /** Look up a prepared statement for the bound caller (owner check). */
    def preparedFor(session: SparkSession, handleBytes: Array[Byte])
        : (String, GraftFlightSql.Prepared) = {
      val handle = new String(handleBytes, StandardCharsets.UTF_8)
      val ps = GraftFlightSql.getPrepared(handle).getOrElse(
        throw notFound("flight sql: unknown prepared statement handle " +
          GraftFlightSql.expiryHint))
      requireOwner(session, ps.owner, "flight sql: prepared statement")
      (handle, ps)
    }

    /** Catalog-metadata command → result DataFrame (None for commands
      * whose result is not DataFrame-expressible, i.e. GetSqlInfo). */
    def catalogDf(session: SparkSession, kind: String, v: Array[Byte])
        : Option[DataFrame] = kind match {
      case "CommandGetCatalogs" => Some(GraftFlightSql.catalogsDf(root))
      case "CommandGetDbSchemas" =>
        Some(GraftFlightSql.dbSchemasDf(root, PbSql.readGetDbSchemas(v)))
      case "CommandGetTables" =>
        Some(GraftFlightSql.tablesDf(root, session, PbSql.readGetTables(v)))
      case "CommandGetTableTypes" => Some(GraftFlightSql.tableTypesDf(root))
      case "CommandGetPrimaryKeys" =>
        Some(GraftFlightSql.primaryKeysDf(root, PbSql.readGetPrimaryKeys(v)))
      case "CommandGetImportedKeys" | "CommandGetExportedKeys" |
           "CommandGetCrossReference" => Some(GraftFlightSql.foreignKeysDf(root))
      case "CommandGetXdbcTypeInfo" =>
        Some(GraftFlightSql.typeInfoDf(root, PbSql.readGetXdbcTypeInfo(v)))
      case _ => None
    }

    /** GetFlightInfo: dual dispatch, exactly the reference's shape
      * (DremioFlightProducer.java:217-236) — an Any-wrapped Flight SQL
      * command when the descriptor parses as one, else the legacy
      * raw-SQL/PATH form. Ad-hoc statements plan (and, for eager
      * commands, execute) ONCE here; their ticket names the stashed
      * plan. Stateless commands (prepared/catalog) carry the command
      * itself as the ticket. */
    val infoHandler = ServerCalls.asyncUnaryCall(
      new ServerCalls.UnaryMethod[Array[Byte], Array[Byte]] {
        override def invoke(req: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit =
          try {
            reapPending()
            val desc = Pb.readDescriptor(req)

            def reply(schemaIpc: Array[Byte], ticket: Array[Byte]): Unit = {
              val endpoint = Pb.writeEndpoint(ticket, locations)
              obs.onNext(Pb.writeFlightInfo(schemaIpc, req,
                Seq(endpoint), totalRecords = -1L, totalBytes = -1L))
              obs.onCompleted()
            }
            def planStatement(sql: String, mkTicket: String => Array[Byte]): Unit = {
              val s = session(root)
              val df = graft.Graft.sql(s, sql)
              val ticket = java.util.UUID.randomUUID().toString
              pending.put(ticket, Pending(df,
                graft.auth.Privileges.principalOf(s).map(_.name),
                System.currentTimeMillis()))
              reply(schemaIpcBytesOf(df), mkTicket(ticket))
            }

            val anyCmd = if (desc.descType == 2) PbSql.readAny(desc.cmd) else None
            anyCmd match {
              case Some(("CommandStatementQuery", v)) =>
                planStatement(PbSql.readStatementQuery(v), uuid =>
                  PbSql.writeAny("TicketStatementQuery",
                    PbSql.writeTicketStatementQuery(PbSql.utf8(uuid))))
              case Some(("CommandPreparedStatementQuery", v)) =>
                val s = session(root)
                val (_, ps) = preparedFor(s, PbSql.readHandle(v))
                // schema only — execution happens at DoGet, exactly once
                reply(preparedSchemaIpc(s, ps.sql), desc.cmd)
              case Some(("CommandGetSqlInfo", v)) =>
                session(root)
                val (schema, _) = GraftFlightSql.sqlInfoIpc(PbSql.readGetSqlInfo(v))
                reply(schemaIpcBytes(schema), desc.cmd)
              case Some((kind, v)) =>
                catalogDf(session(root), kind, v) match {
                  case Some(df) => reply(schemaIpcBytesOf(df), desc.cmd)
                  case None => throw unimplemented(s"flight sql: $kind")
                }
              case None => // legacy raw-SQL CMD / PATH descriptor
                planStatement(sqlOf(desc),
                  uuid => uuid.getBytes(StandardCharsets.UTF_8))
            }
          } catch { case t: Throwable => fail(obs, t) }
      })

    val schemaHandler = ServerCalls.asyncUnaryCall(
      new ServerCalls.UnaryMethod[Array[Byte], Array[Byte]] {
        override def invoke(req: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit =
          try {
            val desc = Pb.readDescriptor(req)
            def reply(schemaIpc: Array[Byte]): Unit = {
              obs.onNext(Pb.writeSchemaResult(schemaIpc))
              obs.onCompleted()
            }
            val anyCmd = if (desc.descType == 2) PbSql.readAny(desc.cmd) else None
            anyCmd match {
              case Some(("CommandStatementQuery", v)) =>
                reply(schemaIpcBytesOf(
                  graft.Graft.sql(session(root), PbSql.readStatementQuery(v))))
              case Some(("CommandPreparedStatementQuery", v)) =>
                val s = session(root)
                val (_, ps) = preparedFor(s, PbSql.readHandle(v))
                reply(preparedSchemaIpc(s, ps.sql))
              case Some(("CommandGetSqlInfo", v)) =>
                session(root)
                reply(schemaIpcBytes(
                  GraftFlightSql.sqlInfoIpc(PbSql.readGetSqlInfo(v))._1))
              case Some((kind, v)) =>
                catalogDf(session(root), kind, v) match {
                  case Some(df) => reply(schemaIpcBytesOf(df))
                  case None => throw unimplemented(s"flight sql: $kind")
                }
              case None => reply(schemaIpcBytesOf(graft.Graft.sql(session(root), sqlOf(desc))))
            }
          } catch { case t: Throwable => fail(obs, t) }
      })

    /** Take a stashed ad-hoc statement ticket, exactly once, for DoGet or
      * CancelQuery: the caller is validated BEFORE removal — a
      * missing/invalid credential or the wrong principal leaves the
      * submitted plan intact so the rightful owner's retry still finds
      * it. None when no such ticket is stashed. */
    def claimPending(tk: String): Option[DataFrame] =
      pending.get(tk).filter { p =>
        requireOwner(session(root), p.owner, "flight: ticket")
        pending.remove(tk, p)
      }.map(_.df)

    val doGetHandler = ServerCalls.asyncServerStreamingCall(
      new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(req: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit =
          try {
            val tkBytes = Pb.readTicket(req)
            require(tkBytes.nonEmpty, "flight: empty ticket")
            PbSql.readAny(tkBytes) match {
              case Some(("TicketStatementQuery", v)) =>
                val handle = new String(PbSql.readHandle(v), StandardCharsets.UTF_8)
                val df = claimPending(handle).getOrElse(
                  throw notFound("flight sql: unknown or expired statement handle"))
                streamResult(df, "flightDoGet", obs)
              case Some(("CommandPreparedStatementQuery", v)) =>
                val s = session(root)
                val (_, ps) = preparedFor(s, PbSql.readHandle(v))
                // re-planned per execution: prepared statements are
                // re-executable until closed, each run over current data.
                // Parameters bound via DoPut substitute the statement's
                // `?` markers positionally; they stay bound until the
                // client re-binds (ADBC re-binds before each execute).
                val df = ps.params.get() match {
                  case Seq() => graft.Graft.sql(s, ps.sql)
                  case Seq(row) => graft.Graft.sql(s, ps.sql, row)
                  case many => throw grpc.Status.INVALID_ARGUMENT
                    .withDescription(s"flight sql: a query execution binds " +
                      s"exactly one parameter row, got ${many.size} " +
                      "(batch bindings drive prepared UPDATE/DELETE, not SELECT)")
                    .asRuntimeException()
                }
                streamResult(df, "flightPreparedQuery", obs)
              case Some(("CommandGetSqlInfo", v)) =>
                session(root)
                val (schema, batches) =
                  GraftFlightSql.sqlInfoIpc(PbSql.readGetSqlInfo(v))
                streamIpc(schema, batches, obs)
              case Some((kind, v)) =>
                catalogDf(session(root), kind, v) match {
                  case Some(df) => streamResult(df, "flightCatalogCmd", obs)
                  case None => throw unimplemented(s"flight sql: $kind")
                }
              case None =>
                val tk = new String(tkBytes, StandardCharsets.UTF_8)
                val df = claimPending(tk) // else stateless SQL-in-ticket
                  .getOrElse(graft.Graft.sql(session(root), tk))
                streamResult(df, "flightDoGet", obs)
            }
          } catch { case t: Throwable => fail(obs, t) }
      })

    /** DoAction: the prepared-statement lifecycle (reference
      * DremioFlightProducer.java:236 getFlightInfoPreparedStatement /
      * ActionCreatePreparedStatementRequest). The action body is the
      * Any-wrapped request, the result body the Any-wrapped result —
      * the Flight SQL wire contract. */
    val doActionHandler = ServerCalls.asyncServerStreamingCall(
      new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(req: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit =
          try {
            val action = PbSql.readAction(req)
            action.tpe match {
              case "CreatePreparedStatement" =>
                val s = session(root)
                val sql = PbSql.readAny(action.body) match {
                  case Some(("ActionCreatePreparedStatementRequest", v)) =>
                    PbSql.readCreatePreparedRequest(v)
                  case _ => throw grpc.Status.INVALID_ARGUMENT.withDescription(
                    "flight sql: CreatePreparedStatement body must be an " +
                      "Any-wrapped ActionCreatePreparedStatementRequest")
                    .asRuntimeException()
                }
                // Preparation must NOT execute: the statement is analyzed
                // only; one without a knowable schema reports an empty
                // dataset schema, which the spec allows for update-style
                // statements. The analysis is a history row of its own.
                val t0 = System.nanoTime()
                val schemaBytes = analyzedOnly(s, sql).map { df =>
                  graft.catalog.QueryHistory.record("flightPrepare",
                    df.queryExecution, System.nanoTime() - t0, None)
                  schemaIpcBytesOf(df)
                }.getOrElse(Array.emptyByteArray)
                val handle = GraftFlightSql.createPrepared(sql,
                  graft.auth.Privileges.principalOf(s).map(_.name))
                obs.onNext(PbSql.writeResult(PbSql.writeAny(
                  "ActionCreatePreparedStatementResult",
                  PbSql.writeCreatePreparedResult(PbSql.utf8(handle),
                    schemaBytes, Array.emptyByteArray))))
                obs.onCompleted()
              case "ClosePreparedStatement" =>
                val handleBytes = PbSql.readAny(action.body) match {
                  case Some(("ActionClosePreparedStatementRequest", v)) =>
                    PbSql.readHandle(v)
                  case _ => PbSql.readHandle(action.body) // tolerate unwrapped
                }
                val (handle, _) = preparedFor(session(root), handleBytes)
                GraftFlightSql.closePrepared(handle)
                obs.onCompleted()
              case "CancelQuery" =>
                // Flight SQL ActionCancelQueryRequest: the client returns
                // the FlightInfo it was issued; every endpoint ticket that
                // still names an un-consumed stashed plan is revoked (the
                // query can no longer start). Already-consumed, prepared
                // and catalog tickets have no queued server state →
                // NOT_CANCELLABLE. CancelResult: 1=CANCELLED,
                // 3=NOT_CANCELLABLE.
                val info = PbSql.readAny(action.body) match {
                  case Some(("ActionCancelQueryRequest", v)) =>
                    PbSql.readCancelQueryRequest(v)
                  case _ => PbSql.readCancelQueryRequest(action.body) // tolerate unwrapped
                }
                val revoked = Pb.readFlightInfoTickets(info).map { tkBytes =>
                  val uuid = PbSql.readAny(tkBytes) match {
                    case Some(("TicketStatementQuery", v)) =>
                      new String(PbSql.readHandle(v), StandardCharsets.UTF_8)
                    case Some(_) => "" // stateless command ticket — nothing queued
                    case None => new String(tkBytes, StandardCharsets.UTF_8)
                  }
                  uuid.nonEmpty && claimPending(uuid).isDefined
                }
                val status = if (revoked.contains(true)) 1 else 3
                obs.onNext(PbSql.writeResult(PbSql.writeAny(
                  "ActionCancelQueryResult", PbSql.writeCancelQueryResult(status))))
                obs.onCompleted()
              case other => throw unimplemented(s"flight action: $other")
            }
          } catch { case t: Throwable => fail(obs, t) }
      })

    /** DoPut: wire ingest (reference acceptPut,
      * DremioFlightProducer.java:267). The first FlightData frame carries
      * the target descriptor + the Arrow schema header; subsequent frames
      * carry record batches. The upload lands as an atomic lake append
      * (PATH naming a lake directory) or an INSERT into a catalog table
      * (PATH naming a dataset), under the caller's INSERT privilege while
      * enforcement is on. Rows materialize on the driver (the Spark
      * Connect local-relation contract) — bounded by [[MaxPutBytes]]; the
      * write itself distributes normally. */
    val doPutHandler = ServerCalls.asyncBidiStreamingCall(
      new ServerCalls.BidiStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(obs: StreamObserver[Array[Byte]])
            : StreamObserver[Array[Byte]] =
          new StreamObserver[Array[Byte]] {
            private var desc: Option[Pb.FlightDescriptor] = None
            private val chunks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
            private var stage: PutStage = null
            private var stageDir: java.nio.file.Path = null
            private var decided = false
            private var totalBytes = 0L
            private var failed = false

            private def cleanupStage(): Unit = if (stageDir != null) {
              try {
                if (stage != null) stage.cleanup()
                import scala.jdk.CollectionConverters._
                java.nio.file.Files.walk(stageDir).sorted(
                  java.util.Comparator.reverseOrder[java.nio.file.Path]())
                  .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
              } catch { case _: Exception => () }
            }

            /** Ingest-shaped (PATH / raw-CMD descriptor) streams of
              * stageable types spill; command-shaped streams (parameter
              * bindings — small by contract) stay driver-local. */
            private def decideMode(schemaFramed: Array[Byte]): Unit = {
              decided = true
              val ingestShaped = desc.exists(d =>
                d.descType == 1 || (d.descType == 2 && PbSql.readAny(d.cmd).isEmpty))
              if (ingestShaped && stageable(schemaFramed)) {
                stageDir = root.conf.getOption("spark.graft.flight.staging") match {
                  case Some(base) => java.nio.file.Files.createTempDirectory(
                    java.nio.file.Paths.get(base), "graft_put_")
                  case None => java.nio.file.Files.createTempDirectory("graft_put_")
                }
                stage = new PutStage(stageDir)
                stage.start(schemaFramed)
              }
            }

            override def onNext(b: Array[Byte]): Unit =
              try {
                if (failed) return
                val fd = PbSql.readFlightData(b)
                if (desc.isEmpty) desc = fd.descriptor
                if (fd.dataHeader.nonEmpty) {
                  val framed = frameIpcMessage(fd.dataHeader, fd.dataBody)
                  if (!decided) { decideMode(framed); if (stage != null) return }
                  if (stage != null) stage.writeBatch(framed)
                  else {
                    totalBytes += framed.length
                    if (totalBytes > MaxPutBytes)
                      throw grpc.Status.RESOURCE_EXHAUSTED.withDescription(
                        s"flight: driver-local DoPut exceeds $MaxPutBytes bytes " +
                          "(non-stageable Arrow types) — use COPY INTO for bulk loads")
                        .asRuntimeException()
                    chunks += framed
                  }
                }
              } catch { case t: Throwable =>
                failed = true; cleanupStage(); fail(obs, t) }
            override def onError(t: Throwable): Unit = { failed = true; cleanupStage() }
            override def onCompleted(): Unit =
              try {
                if (failed) return
                val d = desc.getOrElse(throw grpc.Status.INVALID_ARGUMENT
                  .withDescription("flight: DoPut stream carried no descriptor")
                  .asRuntimeException())
                val session = GraftFlightServer.session(root)
                val anyCmd = if (d.descType == 2) PbSql.readAny(d.cmd) else None
                // decode uploaded Arrow batches into local parameter rows
                // (small by contract — parameter bindings, not data)
                def paramRows(): Seq[Array[Any]] =
                  if (chunks.isEmpty) Nil
                  else org.apache.spark.sql.graft.Bridge
                    .dataFrameFromIPCStream(session, chunks.iterator)
                    .collect().toSeq
                    .map(r => Array.tabulate[Any](r.length)(r.get))
                anyCmd match {
                  // Flight SQL update path (ADBC's DML shape): the command
                  // IS the work. Eager commands execute here (and are
                  // listener-recorded); the ack is a raw DoPutUpdateResult
                  // in app_metadata.
                  case Some(("CommandStatementUpdate", v)) =>
                    graft.Graft.sql(session, PbSql.readStatementQuery(v))
                    obs.onNext(PbSql.writePutResult(
                      PbSql.writeDoPutUpdateResult(-1L)))
                    obs.onCompleted()
                  case Some(("CommandPreparedStatementUpdate", v)) =>
                    val (_, ps) = preparedFor(session, PbSql.readHandle(v))
                    // batch semantics: with bound rows, the statement runs
                    // once per row (ADBC executemany); with none, once
                    paramRows() match {
                      case Seq() => graft.Graft.sql(session, ps.sql)
                      case rows => graft.Graft.sqlBatch(session, ps.sql, rows)
                    }
                    obs.onNext(PbSql.writePutResult(
                      PbSql.writeDoPutUpdateResult(-1L)))
                    obs.onCompleted()
                  // parameter binding (reference DremioFlightProducer.java:437
                  // acceptPutPreparedStatementQuery): the uploaded batch's
                  // rows become the handle's positional `?` bindings,
                  // consumed by subsequent DoGet executions
                  case Some(("CommandPreparedStatementQuery", v)) =>
                    val (_, ps) = preparedFor(session, PbSql.readHandle(v))
                    val rows = paramRows()
                    if (rows.isEmpty)
                      throw grpc.Status.INVALID_ARGUMENT.withDescription(
                        "flight sql: parameter DoPut carried no rows")
                        .asRuntimeException()
                    ps.params.set(rows)
                    obs.onNext(PbSql.writePutResult(PbSql.writeAny(
                      "DoPutPreparedStatementResult",
                      PbSql.writeDoPutPreparedResult(PbSql.readHandle(v)))))
                    obs.onCompleted()
                  case Some((kind, _)) =>
                    throw grpc.Status.UNIMPLEMENTED
                      .withDescription(s"flight sql DoPut: $kind")
                      .asRuntimeException()
                  case None =>
                    val df =
                      if (stage != null) {
                        // bulk path: land from the staged Arrow files via a
                        // distributed read — no driver materialization
                        stage.finish(); stage = null
                        spilledPuts.incrementAndGet()
                        graft.sources.ArrowFiles.read(session, stageDir.toString)
                      } else org.apache.spark.sql.graft.Bridge
                        .dataFrameFromIPCStream(session, chunks.iterator)
                    val rows = ingestPut(root, session, d, df)
                    obs.onNext(PbSql.writePutResult(
                      PbSql.utf8(s"""{"rows":$rows}""")))
                    obs.onCompleted()
                }
              } catch { case t: Throwable => fail(obs, t) }
              finally cleanupStage()
          }
      })

    val handshakeHandler = ServerCalls.asyncBidiStreamingCall(
      new ServerCalls.BidiStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(obs: StreamObserver[Array[Byte]])
            : StreamObserver[Array[Byte]] = {
          // header-based basic auth is validated by the interceptor (which
          // attaches the bearer token to the response headers); the
          // handshake body itself just acks. The basic-token client
          // (pyarrow authenticate_basic_token) writes NO request messages
          // — it half-closes immediately and reads the headers — so the
          // validity check and the header-flushing response both live in
          // onCompleted. A Basic header that fails to mint is refused
          // loudly there.
          val header = CtxAuth.get()
          val isBasic = header != null && graft.server.Statements.isBasic(header)
          val bearer = CtxBearer.get()
          new StreamObserver[Array[Byte]] {
            private var responded = false
            private def respond(payload: Array[Byte]): Unit = {
              responded = true
              obs.onNext(Pb.writeHandshake(payload))
            }
            override def onNext(req: Array[Byte]): Unit = {
              // legacy protobuf BasicAuth payload (Flight.proto) support:
              // the minted token rides back in the response payload
              val viaPayload = Pb.readBasicAuth(Pb.readHandshakePayload(req))
                .flatMap { case (u, p) =>
                  graft.server.Statements.open(root, graft.server.Statements
                    .Credentials(None, Some(u), Some(p)), required = false)
                    .toOption.flatMap(_.bearer)
                }
              respond(viaPayload.map(_.getBytes(StandardCharsets.UTF_8))
                .getOrElse(Array.emptyByteArray))
            }
            override def onError(t: Throwable): Unit = ()
            override def onCompleted(): Unit = {
              if (isBasic && bearer.isEmpty)
                obs.onError(unauthenticated("flight: invalid basic credentials"))
              else {
                // a response message forces initial metadata (the bearer
                // header) onto the wire — trailers-only would skip it
                if (!responded) respond(Array.emptyByteArray)
                obs.onCompleted()
              }
            }
          }
        }
      })

    // ListFlights: one FlightInfo per catalog dataset (PATH descriptor +
    // SELECT * ticket) — the reference's dataset enumeration. Metadata is
    // listed over the server's own session (clones would hide its temp
    // views, same choice as the REST catalog API); statements still
    // execute on per-call cloned sessions. While enforcement is on, the
    // listing shows only datasets the bound principal can SELECT — the
    // same visibility rule statement execution enforces (schema disclosure
    // of ungranted tables is a leak even when DoGet would refuse the read).
    val listFlightsHandler = ServerCalls.asyncServerStreamingCall(
      new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(req: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit =
          try {
            val principal = graft.auth.Privileges.principalOf(session(root))
            val granted = root.catalog.listTables().collect()
              .filter(t => graft.auth.Privileges.visible(principal, t.name))
            val listed = granted.take(500)
            if (granted.length > listed.length)
              log.warn(s"flight ListFlights: catalog has ${granted.length} " +
                s"visible datasets, listing truncated to ${listed.length}")
            listed.foreach { t =>
              try {
                val df = root.table(t.name)
                val schema = org.apache.spark.sql.graft.Bridge.arrowSchema(df)
                val ident = "`" + t.name.replace("`", "``") + "`"
                val desc = Pb.writeDescriptor(
                  Pb.FlightDescriptor(1, Array.emptyByteArray, Seq(t.name)))
                val endpoint = Pb.writeEndpoint(
                  s"SELECT * FROM $ident".getBytes(StandardCharsets.UTF_8),
                  Seq(s"grpc://localhost:${boundPort.getOrElse(0)}"))
                obs.onNext(Pb.writeFlightInfo(schemaIpcBytes(schema), desc,
                  Seq(endpoint), totalRecords = -1L, totalBytes = -1L))
              } catch { // unreadable entry → skip, but leave a trace
                case e: Exception =>
                  log.warn(s"flight ListFlights: skipping unreadable dataset " +
                    s"'${t.name}': ${e.getMessage}")
              }
            }
            obs.onCompleted()
          } catch { case t: Throwable => fail(obs, t) }
      })

    val listActionsHandler = ServerCalls.asyncServerStreamingCall(
      new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
        override def invoke(req: Array[Byte], obs: StreamObserver[Array[Byte]]): Unit = {
          obs.onNext(Pb.writeActionType("CreatePreparedStatement",
            "Create a reusable prepared statement (Flight SQL)"))
          obs.onNext(Pb.writeActionType("ClosePreparedStatement",
            "Release a prepared statement handle (Flight SQL)"))
          obs.onNext(Pb.writeActionType("CancelQuery",
            "Revoke an issued FlightInfo's un-consumed statement tickets (Flight SQL)"))
          obs.onCompleted()
        }
      })

    grpc.ServerServiceDefinition.builder(ServiceName)
      .addMethod(getFlightInfo, infoHandler)
      .addMethod(getSchema, schemaHandler)
      .addMethod(doGet, doGetHandler)
      .addMethod(doPut, doPutHandler)
      .addMethod(doAction, doActionHandler)
      .addMethod(handshake, handshakeHandler)
      .addMethod(listFlights, listFlightsHandler)
      .addMethod(listActions, listActionsHandler)
      .build()
  }

  /** Captures the authorization header into the call context; on
    * Handshake, valid Basic credentials are exchanged (once, by the shared
    * opener) for a bearer token returned in the response headers (the
    * `authenticate_basic_token` contract). */
  private final class AuthInterceptor(root: SparkSession) extends grpc.ServerInterceptor {
    override def interceptCall[Req, Resp](
        call: grpc.ServerCall[Req, Resp], headers: grpc.Metadata,
        next: grpc.ServerCallHandler[Req, Resp]): grpc.ServerCall.Listener[Req] = {
      val auth = headers.get(AuthHeader)
      val isHandshake =
        call.getMethodDescriptor.getFullMethodName == s"$ServiceName/Handshake"
      val bearer =
        if (!isHandshake || auth == null || !graft.server.Statements.isBasic(auth)) None
        else graft.server.Statements.open(root,
          graft.server.Statements.Credentials(Some(auth)), required = false)
          .toOption.flatMap(_.bearer)
      val wrapped =
        if (!isHandshake || auth == null) call
        else new grpc.ForwardingServerCall.SimpleForwardingServerCall[Req, Resp](call) {
          // clients read the minted token from initial OR trailing
          // metadata — attach to both so a trailers-only path still works
          override def sendHeaders(h: grpc.Metadata): Unit = {
            bearer.foreach(tok => h.put(AuthHeader, s"Bearer $tok"))
            super.sendHeaders(h)
          }
          override def close(status: grpc.Status, trailers: grpc.Metadata): Unit = {
            if (status.isOk)
              bearer.foreach(tok => trailers.put(AuthHeader, s"Bearer $tok"))
            super.close(status, trailers)
          }
        }
      grpc.Contexts.interceptCall(
        grpc.Context.current().withValue(CtxAuth, auth).withValue(CtxBearer, bearer),
        wrapped, headers, next)
    }
  }

  // ---- lifecycle ----------------------------------------------------------

  def start(spark: SparkSession): Int = synchronized {
    boundPort.getOrElse {
      val srv = grpc.netty.NettyServerBuilder
        .forAddress(new InetSocketAddress("localhost", 0))
        .addService(grpc.ServerInterceptors.intercept(
          service(spark), new AuthInterceptor(spark)))
        .build().start()
      running = Some(srv)
      boundPort = Some(srv.getPort)
      graft.server.Services.note("arrow-flight", srv.getPort)
      srv.getPort
    }
  }

  def port: Option[Int] = boundPort

  def stop(): Unit = synchronized {
    graft.server.Services.clear("arrow-flight")
    running.foreach(_.shutdownNow())
    running = None
    boundPort = None
  }
}

package graft.server.flight

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Over-loopback proof of the Arrow Flight endpoint with a REAL
  * third-party client: pyarrow.flight (the driver toolchain ships it),
  * exactly how the DuckDB oracle proves SQL semantics. Every wire test
  * is gated on the client's availability and cancels cleanly without it.
  * A pure-JVM IPC-framing unit test runs unconditionally. */
class GraftFlightServerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val pyflight: Boolean =
    try new ProcessBuilder("python3", "-c", "import pyarrow.flight")
      .start().waitFor() == 0
    catch { case _: Exception => false }

  /** Run the pyarrow client script; returns (exitCode, stdout+stderr). */
  private def runClient(args: String*): (Int, String) = {
    val script = Files.createTempFile("flight_client", ".py")
    Files.writeString(script,
      """import sys, json
        |import pyarrow.flight as fl
        |
        |port, sql, mode = sys.argv[1], sys.argv[2], sys.argv[3]
        |client = fl.connect(f"grpc://localhost:{port}")
        |opts = None
        |if mode == "basic":
        |    pair = client.authenticate_basic_token(sys.argv[4].encode(), sys.argv[5].encode())
        |    assert pair[0] == b"authorization" and pair[1].startswith(b"Bearer "), pair
        |    opts = fl.FlightCallOptions(headers=[pair])
        |try:
        |    if mode == "list":
        |        infos = list(client.list_flights())
        |        names = sorted(i.descriptor.path[0].decode() for i in infos)
        |        print("LIST " + json.dumps(names))
        |        target = [i for i in infos if i.descriptor.path[0].decode() == sql]
        |        if target:
        |            table = client.do_get(target[0].endpoints[0].ticket).read_all()
        |            print("LISTED_ROWS " + str(table.num_rows))
        |    else:
        |        if mode == "path":
        |            desc = fl.FlightDescriptor.for_path(*sql.split("/"))
        |        else:
        |            desc = fl.FlightDescriptor.for_command(sql.encode())
        |        info = client.get_flight_info(desc, opts) if opts else client.get_flight_info(desc)
        |        t = info.endpoints[0].ticket
        |        reader = client.do_get(t, opts) if opts else client.do_get(t)
        |        table = reader.read_all()
        |        print("RESULT " + json.dumps({
        |            "cols": table.schema.names,
        |            "rows": sorted(json.dumps(r, default=str, sort_keys=True)
        |                           for r in table.to_pylist())}))
        |except fl.FlightUnauthenticatedError as e:
        |    print("UNAUTHENTICATED " + str(e)[:120])
        |except fl.FlightError as e:
        |    print("FLIGHT_ERROR " + str(e)[:300])
        |""".stripMargin)
    val pb = new ProcessBuilder(("python3" +: script.toString +: args): _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    (p.waitFor(), out)
  }

  private def port: Int =
    GraftFlightServer.port.getOrElse(GraftFlightServer.start(spark))

  test("IPC message framing splits into (flatbuffer header, body)") {
    import org.apache.spark.sql.functions._
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    val out = Vector.newBuilder[Array[Byte]]
    org.apache.spark.sql.graft.Bridge.runArrow(df, "collectArrow")(out += _)
    val batches = out.result()
    assert(batches.nonEmpty)
    batches.foreach { b =>
      val (header, body) = GraftFlightServer.splitIpcMessage(b)
      assert(header.nonEmpty && body.nonEmpty)
      assert(header.length + body.length + 8 == b.length ||
        header.length + body.length + 4 == b.length)
      // the header parses as a flatbuffer RecordBatch message with the
      // body length the split actually produced
      val msg = org.apache.arrow.flatbuf.Message
        .getRootAsMessage(java.nio.ByteBuffer.wrap(header))
      assert(msg.headerType() == org.apache.arrow.flatbuf.MessageHeader.RecordBatch)
      assert(msg.bodyLength() == body.length.toLong)
    }
  }

  test("tpch_q01 over a real pyarrow Flight client matches in-process execution") {
    assume(pyflight, "pyarrow.flight not available in this environment")
    val q =
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  COUNT(*) AS count_order
         |FROM parquet.`$sf/lineitem.parquet`
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin
    val (_, out) = runClient(port.toString, q, "anon")
    assert(out.contains("RESULT "), out.take(600))
    val got = out.linesIterator.find(_.startsWith("RESULT ")).get.stripPrefix("RESULT ")
    assert(got.contains(
      """"cols": ["l_returnflag", "l_linestatus", "sum_qty", "count_order"]"""),
      got.take(300))
    // full row equality: in-process rows re-serialized exactly as the
    // python side does (json.dumps sort_keys → alphabetical fields; the
    // fixture's magnitudes keep Double.toString == python repr)
    val want = spark.sql(q).collect().map { r =>
      s"""{\\"count_order\\": ${r.getLong(3)}, \\"l_linestatus\\": \\"${r.getString(1)}\\", """ +
        s"""\\"l_returnflag\\": \\"${r.getString(0)}\\", \\"sum_qty\\": ${r.getDouble(2)}}"""
    }.sorted
    want.foreach(w => assert(got.contains(w), s"missing row $w in ${got.take(800)}"))
    val gotRowCount = got.sliding("count_order".length).count(_ == "count_order") - 1
    assert(gotRowCount == want.length, s"row count: $gotRowCount != ${want.length}")
  }

  test("DDL + lake round trip over Flight (CMD descriptor carries any graft SQL)") {
    assume(pyflight, "pyarrow.flight not available in this environment")
    val dir = Files.createTempDirectory("flight_lake").toString + "/t"
    val (_, mk) = runClient(port.toString,
      s"CREATE LAKE '$dir' AS SELECT id, id * 3 AS v FROM range(40)", "anon")
    assert(mk.contains("RESULT "), mk.take(400))
    val (_, rd) = runClient(port.toString,
      s"SELECT count(*) AS n, sum(v) AS s FROM lake_scan('$dir')", "anon")
    assert(rd.contains("\\\"n\\\": 40") && rd.contains("\\\"s\\\": 2340"), rd.take(400))
  }

  test("ListFlights enumerates catalog datasets; PATH descriptors read them") {
    assume(pyflight, "pyarrow.flight not available in this environment")
    spark.sql("DROP TABLE IF EXISTS flight_cat_t")
    spark.sql("CREATE TABLE flight_cat_t STORED AS PARQUET AS " +
      "SELECT id, id * 2 AS v FROM range(17)")
    try {
      val (_, listed) = runClient(port.toString, "flight_cat_t", "list")
      assert(listed.contains("\"flight_cat_t\""), listed.take(500))
      assert(listed.contains("LISTED_ROWS 17"), listed.take(500))
      val (_, byPath) = runClient(port.toString, "flight_cat_t", "path")
      assert(byPath.contains("RESULT ") && byPath.contains("\\\"id\\\": 16"),
        byPath.take(500))
    } finally spark.sql("DROP TABLE IF EXISTS flight_cat_t")
  }

  test("auth over Flight: anonymous refused while enforcing; basic token flow serves") {
    assume(pyflight, "pyarrow.flight not available in this environment")
    import graft.auth.Privileges
    Privileges.clear()
    try {
      spark.sql("CREATE USER fl_admin PASSWORD 'fp' ADMIN")
      spark.sql("CREATE USER fl_alice PASSWORD 'ap'")
      spark.sql("ALTER AUTH ENFORCE ON")
      val q = s"SELECT count(*) AS n FROM parquet.`$sf/region.parquet`"
      // anonymous: clean UNAUTHENTICATED, not a server stack trace
      val (_, anon) = runClient(port.toString, q, "anon")
      assert(anon.contains("UNAUTHENTICATED"), anon.take(400))
      // wrong password: handshake refuses
      val (_, bad) = runClient(port.toString, q, "basic", "fl_alice", "nope")
      assert(bad.contains("Unauthenticated") || bad.contains("UNAUTHENTICATED")
        || bad.contains("invalid basic credentials"), bad.take(400))
      // authenticated but grant-less: analysis-time refusal reaches the client
      val (_, ungranted) = runClient(port.toString, q, "basic", "fl_alice", "ap")
      assert(ungranted.contains("lacks SELECT"), ungranted.take(400))
      // granted: the statement serves through the bearer token
      spark.sql("AUTHENTICATE USER fl_admin PASSWORD 'fp'")
      spark.sql(s"GRANT SELECT ON '$sf/region.parquet' TO USER fl_alice")
      val (_, ok) = runClient(port.toString, q, "basic", "fl_alice", "ap")
      assert(ok.contains("\\\"n\\\": 5"), ok.take(400))
      // the statement landed in the wire-first jobs service under the
      // Flight principal (same ring Thrift/REST/in-process feed)
      assert(graft.catalog.QueryHistory.records.exists(_.userName == "fl_alice"),
        "Flight statement missing from sys_queries history with its principal")
    } finally {
      Privileges.clear()
      spark.conf.unset(graft.auth.Privileges.TokenConf)
      spark.conf.unset(graft.auth.Privileges.UserConf)
    }
  }
}

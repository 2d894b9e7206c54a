package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Base64
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}
import graft.auth.Privileges
import graft.engine.RunningQueries
import graft.server.flight.{GraftFlightServer, PbSql}

/** One table of statement cases run against every wire that carries SQL
  * statements: REST `POST /sql`, the Flight legacy CMD descriptor and
  * Flight SQL `CommandStatementQuery` (a real pyarrow.flight client).
  * Every wire opens its session, binds credentials, builds and runs the
  * statement the same way, so refusals, results, cancellation, ledger
  * retirement and query history agree across them. */
class WireStatementSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val http = HttpClient.newHttpClient()

  private lazy val pyflight: Boolean =
    try new ProcessBuilder("python3", "-c", "import pyarrow.flight")
      .start().waitFor() == 0
    catch { case _: Exception => false }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private sealed trait Auth
  private case object Anon extends Auth
  private final case class Password(user: String, password: String) extends Auth
  private final case class Header(raw: String) extends Auth

  /** What the client saw: the result's row count, or the refusal text. */
  private final case class Reply(ok: Boolean, rows: Int, text: String)

  /** A submitted statement: its reply once the client finishes. */
  private final case class Submitted(await: Long => Option[Reply], kill: () => Unit)

  private sealed abstract class Wire(val name: String) {
    def submit(sql: String, auth: Auth, limit: Option[Int] = None): Submitted
    def run(sql: String, auth: Auth = Anon, limit: Option[Int] = None): Reply =
      submit(sql, auth, limit).await(120).getOrElse(fail(s"$name: no reply to $sql"))
  }

  private object Rest extends Wire("rest") {
    def submit(sql: String, auth: Auth, limit: Option[Int]): Submitted = {
      val port = GraftRestServer.port.getOrElse(GraftRestServer.start(spark))
      val creds = auth match {
        case Password(u, p) => s""", "user": ${GraftRestServer.q(u)}, "password": ${GraftRestServer.q(p)}"""
        case _ => ""
      }
      val body = s"""{"sql": ${GraftRestServer.q(sql)}${limit.fold("")(n => s""", "limit": $n""")}$creds}"""
      val f = http.sendAsync(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      Submitted(secs =>
        try {
          val r = f.get(secs, TimeUnit.SECONDS)
          val rows = "\"rowCount\":(\\d+)".r.findFirstMatchIn(r.body).map(_.group(1).toInt)
          Some(Reply(r.statusCode == 200, rows.getOrElse(-1), s"${r.statusCode} ${r.body.take(600)}"))
        } catch { case _: java.util.concurrent.TimeoutException => None },
        () => { f.cancel(true); () })
    }
  }

  private lazy val script: String = {
    val f = Files.createTempFile("wire_client", ".py")
    Files.writeString(f,
      """import sys, base64
        |import pyarrow.flight as fl
        |port, mode, arg, auth = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
        |client = fl.connect(f"grpc://localhost:{port}")
        |try:
        |    opts = fl.FlightCallOptions()
        |    if auth.startswith("basic:"):
        |        _, u, p = auth.split(":", 2)
        |        opts = fl.FlightCallOptions(headers=[client.authenticate_basic_token(u.encode(), p.encode())])
        |    elif auth.startswith("header:"):
        |        opts = fl.FlightCallOptions(headers=[(b"authorization", auth[7:].encode())])
        |    if mode == "list":
        |        infos = [i for i in client.list_flights(options=opts) if i.descriptor.path[0].decode() == arg]
        |        ticket = infos[0].endpoints[0].ticket
        |    else:
        |        desc = fl.FlightDescriptor.for_command(base64.b64decode(arg))
        |        ticket = client.get_flight_info(desc, opts).endpoints[0].ticket
        |    table = client.do_get(ticket, opts).read_all()
        |    print(f"RESULT {table.num_rows} {table.to_pylist()[:3]}")
        |except fl.FlightUnauthenticatedError as e:
        |    print("UNAUTHENTICATED " + str(e)[:300])
        |except Exception as e:
        |    print("ERROR " + type(e).__name__ + " " + str(e)[:400])
        |""".stripMargin)
    f.toString
  }

  private def flightPort: Int = GraftFlightServer.port.getOrElse(GraftFlightServer.start(spark))

  private def runScript(mode: String, arg: String, auth: Auth): Submitted = {
    val a = auth match {
      case Anon => "anon"
      case Password(u, p) => s"basic:$u:$p"
      case Header(raw) => s"header:$raw"
    }
    val p = new ProcessBuilder("python3", script, flightPort.toString, mode, arg, a)
      .redirectErrorStream(true).start()
    Submitted(secs =>
      if (!p.waitFor(secs, TimeUnit.SECONDS)) None
      else {
        val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
        val rows = "RESULT (\\d+)".r.findFirstMatchIn(out).map(_.group(1).toInt)
        Some(Reply(rows.isDefined, rows.getOrElse(-1), out.take(800)))
      },
      () => { p.destroyForcibly(); () })
  }

  /** Flight with the SQL text as the CMD descriptor's bytes. */
  private object FlightCmd extends Wire("flight") {
    def submit(sql: String, auth: Auth, limit: Option[Int]): Submitted =
      runScript("cmd", Base64.getEncoder.encodeToString(sql.getBytes(StandardCharsets.UTF_8)), auth)
  }

  /** Flight SQL: an Any-wrapped CommandStatementQuery. */
  private object FlightSql extends Wire("flightsql") {
    def submit(sql: String, auth: Auth, limit: Option[Int]): Submitted =
      runScript("cmd", Base64.getEncoder.encodeToString(PbSql.writeAny(
        "CommandStatementQuery", PbSql.writeStatementQuery(sql))), auth)
  }

  private def wires: Seq[Wire] = if (pyflight) Seq(Rest, FlightCmd, FlightSql) else Seq(Rest)

  /** A parquet table of `n` rows (id, g = id % 3). */
  private def table(prefix: String, n: Int): String = {
    val dir = tmp(prefix) + "/t"
    spark.range(n).selectExpr("id", "id % 3 AS g").write.parquet(dir)
    dir
  }

  /** Run `body` with auth enforcement on: `ws_admin` (admin) and `ws_user`,
    * who may SELECT `granted` only. */
  private def enforcing(granted: String)(body: => Unit): Unit = {
    Privileges.clear()
    try {
      spark.sql("CREATE USER ws_admin PASSWORD 'wa' ADMIN")
      spark.sql("CREATE USER ws_user PASSWORD 'wu'")
      spark.sql("ALTER AUTH ENFORCE ON")
      spark.sql("AUTHENTICATE USER ws_admin PASSWORD 'wa'")
      spark.sql(s"GRANT SELECT ON '$granted' TO USER ws_user")
      body
    } finally {
      Privileges.clear()
      spark.conf.unset(Privileges.TokenConf)
      spark.conf.unset(Privileges.UserConf)
    }
  }

  test("credentials and grants: every wire refuses the same callers") {
    val granted = table("ws_granted", 10)
    val hidden = table("ws_hidden", 10)
    enforcing(granted) {
      val user = Password("ws_user", "wu")
      for (w <- wires) {
        val read = s"SELECT count(*) AS n_${w.name} FROM parquet.`$granted`"
        val ok = w.run(read, user)
        assert(ok.ok && ok.rows == 1, s"${w.name} granted read: ${ok.text}")

        // anonymous while enforcing: REST runs it anonymous and the grant
        // check refuses it; Flight refuses the call itself
        val anon = w.run(read, Anon)
        assert(!anon.ok, s"${w.name} anonymous: ${anon.text}")
        if (w == Rest) assert(anon.text.startsWith("400") && anon.text.contains("lacks SELECT"), anon.text)
        else assert(anon.text.contains("UNAUTHENTICATED"), anon.text)

        val bad = w.run(read, Password("ws_user", "nope"))
        assert(!bad.ok, s"${w.name} bad password: ${bad.text}")
        if (w == Rest) assert(bad.text.startsWith("400") && bad.text.contains("authentication failed"), bad.text)
        else assert(bad.text.contains("UNAUTHENTICATED"), bad.text)

        if (w != Rest) {
          val wrong = "Basic " + Base64.getEncoder.encodeToString("ws_user:nope".getBytes)
          for (h <- Seq(wrong, "Basic !!!", "Bearer not-a-token", "Digest x")) {
            val r = w.run(read, Header(h))
            assert(!r.ok && r.text.contains("UNAUTHENTICATED"), s"${w.name} header '$h': ${r.text}")
          }
        }

        val ungranted = w.run(s"SELECT count(*) AS n FROM parquet.`$hidden`", user)
        assert(!ungranted.ok && ungranted.text.contains("lacks SELECT"),
          s"${w.name} ungranted: ${ungranted.text}")
      }
    }
  }

  test("malformed SQL fails on every wire with the parser's error") {
    for (w <- wires) {
      val r = w.run("SELEC 1 FROM")
      assert(!r.ok && r.text.contains("PARSE_SYNTAX_ERROR"), s"${w.name}: ${r.text}")
    }
  }

  test("a graft DDL statement executes once on every wire and is one history entry") {
    // the in-process build of the same statement shape sets the count
    def historyRows(run: String => Unit): Int = {
      val dir = tmp("ws_ddl") + "/t"
      Bridge.waitListenerBus(spark)
      val last = graft.catalog.QueryHistory.records.map(_.id).foldLeft(0L)(_ max _)
      run(s"CREATE LAKE '$dir' AS SELECT id FROM range(7)")
      Bridge.waitListenerBus(spark)
      val rows = graft.catalog.QueryHistory.records.count(_.id > last)
      assert(graft.sources.SnapshotTable.forPath(spark, dir).read().count() == 7)
      rows
    }
    val inProcess = historyRows(sql => { Graft.sql(spark, sql); () })
    for (w <- wires) {
      val rows = historyRows { sql =>
        val r = w.run(sql)
        assert(r.ok, s"${w.name}: ${r.text}")
      }
      assert(rows == inProcess, s"${w.name}: $rows history rows, in-process $inProcess")
    }
  }

  test("REST limit edge cases keep today's clamp; Flight streams every row") {
    val dir = table("ws_limit", 12000)
    val sql = s"SELECT id FROM parquet.`$dir`"
    val exact = s"SELECT id FROM parquet.`$dir` WHERE id < 40"
    for ((limit, q, want) <- Seq((0, sql, 1), (1, sql, 1), (40, exact, 40), (41, exact, 40),
                                 (10001, sql, 10000), (-5, sql, 1))) {
      val r = Rest.run(q, limit = Some(limit))
      assert(r.ok && r.rows == want, s"limit $limit: ${r.text.take(200)}")
    }
    for (w <- wires if w != Rest) {
      val r = w.run(sql)
      assert(r.ok && r.rows == 12000, s"${w.name}: ${r.text}")
    }
  }

  test("cancel of a statement running over the wire fails the client and retires the statement") {
    for (w <- wires) {
      val marker = s"ws_cancel_${w.name}"
      val sub = w.submit(s"SELECT sum(id * id) AS $marker FROM range(600000000000)", Anon)
      try {
        val deadline = System.nanoTime() + 60e9.toLong
        def mine = RunningQueries.list.find(_.statement.contains(marker))
        while ((mine.isEmpty || spark.sparkContext.statusTracker.getActiveJobIds.isEmpty) &&
               System.nanoTime() < deadline) Thread.sleep(20)
        val id = mine.getOrElse(fail(s"${w.name}: statement never ran")).id
        assert(RunningQueries.cancel(spark, id) == Right(true))
        val r = sub.await(60).getOrElse(fail(s"${w.name}: cancel did not stop the statement"))
        assert(!r.ok, s"${w.name}: the cancelled statement completed: ${r.text}")
        Bridge.waitListenerBus(spark)
        assert(!RunningQueries.list.exists(_.id == id), s"${w.name}: still in the ledger")
      } finally {
        sub.kill()
        spark.sparkContext.cancelAllJobs()
      }
    }
  }

  test("a read retires its ledger entry and is one history row with its principal") {
    val granted = table("ws_retire", 30)
    // every request session registers the promoted datasets; that is no
    // statement of its own
    promoted("ws_retire_promoted", table("ws_retire_p", 5)) {
      enforcing(granted) {
        for (w <- wires) {
          val marker = s"n_retire_${w.name}"
          Bridge.waitListenerBus(spark)
          val last = graft.catalog.QueryHistory.records.map(_.id).foldLeft(0L)(_ max _)
          val r = w.run(s"SELECT count(*) AS $marker FROM parquet.`$granted`", Password("ws_user", "wu"))
          assert(r.ok && r.rows == 1, s"${w.name}: ${r.text}")
          Bridge.waitListenerBus(spark)
          assert(!RunningQueries.list.exists(_.statement.contains(marker)),
            s"${w.name}: the statement is still in the ledger")
          val mine = graft.catalog.QueryHistory.records.filter(r => r.id > last && r.userName == "ws_user")
          assert(mine.size == 1, s"${w.name}: history rows $mine")
        }
      }
    }
  }

  test("an ordinary aggregate records its output rows, in process and over REST") {
    val dir = table("ws_rows", 30)
    val sql = s"SELECT g, count(*) AS n FROM parquet.`$dir` GROUP BY g"
    def recorded(run: => Unit): Seq[Long] = {
      Bridge.waitListenerBus(spark)
      val last = graft.catalog.QueryHistory.records.map(_.id).foldLeft(0L)(_ max _)
      run
      Bridge.waitListenerBus(spark)
      graft.catalog.QueryHistory.records.filter(_.id > last).map(_.outputRows)
    }
    assert(recorded(Graft.sql(spark, sql).collect()) == Seq(3L))
    assert(recorded(assert(Rest.run(sql).rows == 3)) == Seq(3L))
  }

  test("a dataset promoted over REST reads back through its ListFlights ticket") {
    assume(pyflight, "pyarrow.flight not available in this environment")
    promoted("ws_promoted", table("ws_promote", 12)) {
      val r = runScript("list", "ws_promoted", Anon).await(120).get
      assert(r.ok && r.rows == 12, r.text)
    }
  }

  /** Run `body` with `dir` promoted over REST as dataset `name`. */
  private def promoted(name: String, dir: String)(body: => Unit): Unit = {
    val port = GraftRestServer.port.getOrElse(GraftRestServer.start(spark))
    def call(method: String, path: String, payload: String): (Int, String) = {
      val r = http.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(payload)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body)
    }
    val (code, reply) = call("POST", "/catalog/promote",
      s"""{"path": ${GraftRestServer.q(dir)}, "name": "$name", "format": "parquet"}""")
    assert(code == 200, reply)
    try body finally call("DELETE", s"/catalog/$name", "")
  }
}

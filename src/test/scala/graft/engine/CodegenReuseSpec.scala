package graft.engine

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.server.GraftRestServer
import graft.server.flight.GraftFlightServer

/** Each generated class compiles once per process: a stage's driver-side
  * compile and its task-side compile share one codegen cache entry (one
  * class-loader key, `GraftSession.shareTaskClassLoader`), and the cache
  * holds more than a repeated workload's warm working set. */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The generated bodies `f` made janino compile, in compile order: a
    * test-scoped appender on the CodeGenerator logger at DEBUG (where
    * Spark logs each body it compiles), removed again afterwards. */
  private def compiledBodies(f: => Unit): Seq[String] = {
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val bodies = new ConcurrentLinkedQueue[String]()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val appender = new AbstractAppender("codegen-bodies", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.DEBUG) bodies.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val previous = Option(config.getLoggers.get(name))
    val logger = new LoggerConfig(name, Level.DEBUG, false)
    logger.addAppender(appender, Level.DEBUG, null)
    config.addLogger(name, logger)
    ctx.updateLoggers()
    try f
    finally {
      config.removeLogger(name)
      previous.foreach(config.addLogger(name, _))
      ctx.updateLoggers()
      appender.stop()
    }
    bodies.asScala.toSeq
  }

  // Multi-stage statements: a shuffle aggregate with a sort, and a
  // broadcast join; literals no other spec uses, so every body is new.
  private val statements = Seq(
    """SELECT id % 7919 AS k, COUNT(*) AS n, SUM(id * 7907) AS s
      |FROM range(0, 40000, 1, 4) GROUP BY id % 7919 ORDER BY k LIMIT 50""".stripMargin,
    """SELECT b.g, COUNT(*) AS n, MAX(a.id + 7901) AS m
      |FROM range(0, 20000, 1, 4) a
      |JOIN (SELECT id AS j, id % 7883 AS g FROM range(0, 300, 1, 2)) b ON a.id % 300 = b.j
      |GROUP BY b.g ORDER BY b.g LIMIT 50""".stripMargin)

  private lazy val pyflight: Boolean =
    try new ProcessBuilder("python3", "-c", "import pyarrow.flight").start().waitFor() == 0
    catch { case _: Exception => false }

  /** `sql` has no quotes or backslashes, so only its newlines need JSON
    * escaping. */
  private def restRows(sql: String): String = {
    val port = GraftRestServer.port.getOrElse(GraftRestServer.start(spark))
    val r = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"sql": "${sql.replace('\n', ' ')}"}""")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode == 200, r.body.take(400))
    r.body
  }

  private def flightRows(sql: String): String = {
    val port = GraftFlightServer.port.getOrElse(GraftFlightServer.start(spark))
    val script = Files.createTempFile("codegen_flight", ".py")
    Files.writeString(script,
      """import sys
        |import pyarrow.flight as fl
        |client = fl.connect(f"grpc://localhost:{sys.argv[1]}")
        |info = client.get_flight_info(fl.FlightDescriptor.for_command(sys.argv[2].encode()))
        |print("RESULT", client.do_get(info.endpoints[0].ticket).read_all().num_rows)
        |""".stripMargin)
    val p = new ProcessBuilder("python3", script.toString, port.toString, sql)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    p.waitFor()
    assert(out.contains("RESULT"), out.take(600))
    out
  }

  test("no generated class compiles twice: test thread, REST /sql and Flight DoGet") {
    spark
    val bodies = compiledBodies {
      statements.foreach { sql =>
        assert(spark.sql(sql).collect().length == 50)
        restRows(sql)
        if (pyflight) flightRows(sql)
      }
    }
    assert(bodies.nonEmpty, "no compile was logged: the capture saw nothing")
    val twice = bodies.groupBy(identity).collect { case (b, xs) if xs.size > 1 => b }
    assert(twice.isEmpty,
      s"${twice.size} of ${bodies.distinct.size} bodies compiled more than once; first:\n" +
        twice.headOption.fold("")(_.take(1500)))
  }

  test("a re-run after more than 100 distinct classes compiles nothing") {
    def statement(k: Int) = s"SELECT id * ${100003 + k} AS v FROM range(0, 8, 1, 1)"
    val before = compiles
    (0 until 150).foreach(k => spark.sql(statement(k)).collect())
    assert(compiles - before > 100, "fewer than 100 distinct classes compiled")
    val warm = compiles
    assert(spark.sql(statement(0)).collect().map(_.getLong(0)).toSeq ==
      (0L until 8L).map(_ * 100003))
    assert(compiles - warm == 0, "the first statement's classes were recompiled")
  }

  test("sys_codegen rises across a cold statement and stays put across a warm re-run") {
    graft.catalog.InfoSchema.register(spark)
    def read() = {
      val r = spark.sql("SELECT * FROM sys_codegen").collect()
      assert(r.length == 1)
      (r(0).getLong(0), r(0).getDouble(1), r(0).getLong(2), r(0).getInt(3))
    }
    read() // compiles the view's own scan once
    val cold = "SELECT id % 7873 AS k, SUM(id * 7877) FROM range(0, 1000, 1, 2) GROUP BY id % 7873"
    val a = read()
    spark.sql(cold).collect()
    val b = read()
    assert(b._1 > a._1 && b._2 > a._2 && b._3 > 0, s"$a -> $b")
    assert(b._4 == GraftSession.CodegenCacheEntries)
    spark.sql(cold).collect()
    assert(read() == b)
  }
}

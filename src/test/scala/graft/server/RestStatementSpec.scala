package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}

/** REST `POST /sql` answers from the statement's own plan: the response is
  * byte-identical to what `df.limit(n).toJSON` renders, a plan-cached
  * statement runs as its own tracked statement each time, reflections
  * still serve, and the request body's JSON escapes decode. */
class RestStatementSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val http = HttpClient.newHttpClient()

  private def post(body: String): (Int, String) = {
    val port = GraftRestServer.port.getOrElse(GraftRestServer.start(spark))
    val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/sql"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def sqlBody(sql: String, limit: Int = 500): String =
    s"""{"sql": ${GraftRestServer.q(sql)}, "limit": $limit}"""

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** The body REST answered with before it ran statements itself:
    * `df.limit(n).toJSON` rows under `df`'s schema. */
  private def toJsonBody(sql: String, n: Int): String = {
    val df = spark.sql(sql)
    val rows = df.limit(n).toJSON.collect()
    val schema = df.schema.fields.map(f =>
      s"""{"name":${GraftRestServer.q(f.name)},"type":${GraftRestServer.q(f.dataType.simpleString)}}""")
    s"""{"rowCount":${rows.length},"schema":[${schema.mkString(",")}],""" +
      s""""rows":[${rows.mkString(",")}]}"""
  }

  private lazy val matrix: String = {
    val dir = tmp("rest_matrix") + "/t"
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, CAST(12.34 AS DECIMAL(12,2)), TIMESTAMP '2024-03-01 12:34:56.789',
        |   TIMESTAMP_NTZ '2024-03-01 01:02:03.000004', DATE '2024-03-01', X'CAFE00',
        |   array(1, 2), map('k', 1), named_struct('a', 1, 'b', 'x'), CAST(NULL AS STRING),
        |   CAST('NaN' AS DOUBLE), 'café 日本 😀 "q" \\ end'),
        |  (2, CAST(-0.5 AS DECIMAL(12,2)), TIMESTAMP '1969-12-31 23:59:59',
        |   TIMESTAMP_NTZ '1900-01-01 00:00:00', DATE '0001-01-01', X'',
        |   array(), map('a', NULL), named_struct('a', NULL, 'b', NULL), 'set',
        |   CAST('Infinity' AS DOUBLE), ''),
        |  (3, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, CAST(-0.0 AS DOUBLE), NULL)
        |AS t(id, dec, ts, ntz, d, bin, arr, m, st, nul, dbl, txt)""".stripMargin)
      .coalesce(1).write.parquet(dir)
    dir
  }

  for ((label, n) <- Seq("1" -> 1, "exact" -> 3, "over" -> 10))
  test(s"REST JSON is byte-identical to df.limit(n).toJSON over a type matrix (limit $label)") {
    for (sql <- Seq(s"SELECT * FROM parquet.`$matrix`",
                    s"SELECT * FROM parquet.`$matrix` ORDER BY id DESC",
                    s"SELECT * FROM parquet.`$matrix` ORDER BY id LIMIT 2",
                    s"SELECT count(*) AS n, max(txt) AS t FROM parquet.`$matrix`",
                    "SELECT id FROM range(0, 100, 1, 8) LIMIT 5")) {
      val (code, body) = post(sqlBody(sql, n))
      assert(code == 200, body)
      assert(body == toJsonBody(sql, n), s"limit $n: $sql")
    }
  }

  test("a plan-cached REST statement sent twice is two tracked statements with their own metrics") {
    val dir = tmp("rest_twice") + "/t"
    spark.sql("SELECT id % 3 AS g, id AS v FROM range(30)").write.parquet(dir)
    val sql = s"SELECT g, count(*) AS n_twice FROM parquet.`$dir` GROUP BY g"
    graft.accel.PlanCache.clearAll()
    try {
      Bridge.waitListenerBus(spark)
      val last = graft.catalog.QueryHistory.records.map(_.id).foldLeft(0L)(_ max _)
      val (c1, b1) = post(sqlBody(sql))
      val (_, hits0, _) = graft.accel.PlanCache.stats
      val (c2, b2) = post(sqlBody(sql))
      assert(c1 == 200 && c2 == 200 && b1 == b2, s"$b1 / $b2")
      assert(graft.accel.PlanCache.stats._2 == hits0 + 1, "the second statement is a plan-cache hit")
      Bridge.waitListenerBus(spark)
      assert(!graft.engine.RunningQueries.list.exists(_.statement.contains("n_twice")),
        "both ledger entries retired")
      val rows = graft.catalog.QueryHistory.records.filter(_.id > last)
      assert(rows.map(_.action) == Seq("collect", "collect"), s"one history row each: $rows")
      // the final aggregate's output rows per run: 3, not 3 then 6
      val finalAggRows = rows.map(r => graft.catalog.QueryHistory.profileOf(r.id)
        .filter(_.operator == "HashAggregate").minBy(_.depth).metrics.get("numOutputRows"))
      assert(finalAggRows == Seq(Some(3L), Some(3L)),
        s"the rerun does not add to the first run's metrics: $finalAggRows")
    } finally graft.accel.PlanCache.clearAll()
  }

  test("a reflection-eligible REST statement's executed plan scans the reflection") {
    val dir = tmp("rest_refl") + "/t"
    spark.sql("SELECT id % 4 AS g, id AS v FROM range(40)").write.parquet(dir)
    val rdir = tmp("rest_refl_mv") + "/r"
    val defining = s"SELECT g, count(*) AS n, sum(v) AS s FROM parquet.`$dir` GROUP BY g"
    Graft.sql(spark, s"CREATE REFLECTION rest_spec_refl USING PATH '$rdir' AS $defining")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          Option(Bridge.executionOf(end)).foreach(qe => plans.add(qe.executedPlan))
        case _ =>
      }
    }
    try {
      Bridge.waitListenerBus(spark)
      spark.sparkContext.addSparkListener(l)
      val (code, body) = post(sqlBody(defining))
      assert(code == 200 && body.contains("\"rowCount\":4"), body)
      Bridge.waitListenerBus(spark)
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: QueryStageExec => scans(s.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      val roots = plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(scans)
        .flatMap(_.relation.location.rootPaths.map(_.toString))
      assert(roots.exists(_.contains(rdir)), s"no scan of the reflection among $roots")
    } finally {
      spark.sparkContext.removeSparkListener(l)
      Graft.sql(spark, "DROP REFLECTION rest_spec_refl")
    }
  }

  test("JSON escapes in the request body decode; a malformed escape is a 400") {
    def u(hex: String) = "\\u" + hex
    // the body Python's json.dumps({"sql": "SELECT 'café' ..."}) sends
    val (c1, b1) = post(s"""{"sql": "SELECT 'caf${u("00e9")}' AS s, length('caf${u("00e9")}') AS n"}""")
    assert(c1 == 200 && b1.contains("\"rows\":[{\"s\":\"café\",\"n\":4}]"), b1)
    val smile = u("d83d") + u("de00") // a surrogate pair
    val (c2, b2) = post(s"""{"sql": "SELECT length('$smile') AS n, '$smile' AS e"}""")
    assert(c2 == 200 && b2.contains("{\"n\":1,\"e\":\"😀\"}"), b2)
    val (c3, b3) = post("""{"sql": "SELECT length('a\bb\fc\/d') AS n"}""")
    assert(c3 == 200 && b3.contains("{\"n\":7}"), b3)
    for (bad <- Seq("""{"sql": "SELECT '\x41'"}""", s"""{"sql": "SELECT '${u("12")}'"}""",
                    s"""{"sql": "SELECT '${u("12G4")}'"}""", "{\"sql\": \"SELECT 1")) {
      val (c, b) = post(bad)
      assert(c == 400 && b.startsWith("{\"error\":\"") && b.contains("malformed JSON"), s"$bad -> $c $b")
    }
  }

  test("string escaping round-trips every control character") {
    val s = (0 until 0x20).map(_.toChar).mkString + "\"\\/é😀"
    val quoted = GraftRestServer.q(s)
    assert(!quoted.exists(_ < ' '), quoted)
    assert(quoted.contains("\\u0001") && quoted.contains("\\b") && quoted.contains("\\f"), quoted)
    assert(GraftRestServer.jsonField(s"""{"v": $quoted}""", "v").contains(s))
  }
}

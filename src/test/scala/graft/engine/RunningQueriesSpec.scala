package graft.engine

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Jobs-service semantics (reference `LocalJobsService.java:3060` cancel
  * path): in-flight statements are visible and cancellable by id; eager
  * commands and completed actions retire from the ledger. */
class RunningQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private implicit val ec: ExecutionContext = ExecutionContext.global

  test("a lazy statement is RUNNING until its first action completes; commands retire at once") {
    val before = RunningQueries.list.map(_.id).toSet
    val df = graft.Graft.sql(spark, "SELECT count(*) AS n FROM range(1000)")
    val mine = RunningQueries.list.filterNot(r => before(r.id))
    assert(mine.size == 1, s"expected exactly one new running entry, got $mine")
    assert(mine.head.statement.contains("FROM range(1000)"))
    assert(df.head().getLong(0) == 1000L)
    // retirement rides the async listener bus
    val deadline = System.nanoTime() + 30e9.toLong
    while (RunningQueries.list.exists(_.id == mine.head.id)
        && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!RunningQueries.list.exists(_.id == mine.head.id),
      "completed statement still listed as running")

    // an eager command never lingers
    graft.Graft.sql(spark, "SHOW QUEUES")
    assert(!RunningQueries.list.exists(_.statement.contains("SHOW QUEUES")))
  }

  test("CANCEL QUERY kills a running statement's jobs; other work is untouched") {
    graft.catalog.InfoSchema.register(spark)
    val before = RunningQueries.list.map(_.id).toSet
    val victim = Future {
      // big enough that the range scan runs for many seconds on 4 cores;
      // range's codegen polls the task-kill flag, so cancellation lands
      graft.Graft.sql(spark,
        "SELECT sum(id * id) AS s FROM range(60000000000)").collect()
    }
    // wait until the statement is ledgered
    val deadline = System.nanoTime() + 30e9.toLong
    def newEntries = RunningQueries.list.filterNot(r => before(r.id))
    while (newEntries.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    val id = newEntries.head.id
    // visible through the sys view, with its job group
    val viewRow = spark.sql(
      s"SELECT statement, job_group FROM sys_running_queries WHERE id = $id").head()
    assert(viewRow.getString(0).contains("60000000000"))
    assert(viewRow.getString(1) == RunningQueries.group(id))
    // ONE cancel through the SQL surface must suffice, whichever side of
    // the submit/cancel race it lands on: a pre-submission cancel marks
    // the id so the job is killed at start by the job-start listener, and
    // a post-submission cancel kills the recorded job ids directly.
    val cancelled = spark.sql(s"CANCEL QUERY $id").head().getString(0)
    assert(cancelled == "true", "CANCEL QUERY did not find the statement")
    val outcome = Await.ready(victim, 60.seconds).value.get
    assert(outcome.isFailure, "cancelled query returned a result")
    val msg = String.valueOf(outcome.failed.get.getMessage).toLowerCase
    assert(msg.contains("cancel"), s"unexpected failure: $msg")
    // the ledger entry is gone and a second cancel reports not-found
    assert(spark.sql(s"CANCEL QUERY $id").head().getString(0) == "false")
    // the session still runs other statements fine
    assert(graft.Graft.sql(spark, "SELECT 7 AS x").head().getInt(0) == 7)
  }

  test("an abandoned never-executed frame is reaped from the ledger after GC") {
    val before = RunningQueries.list.map(_.id).toSet
    var df = graft.Graft.sql(spark, "SELECT id FROM range(123456)")
    val mine = RunningQueries.list.filterNot(r => before(r.id))
    assert(mine.size == 1)
    df = null // only strong reference dropped; never executed
    var attempts = 0
    while (RunningQueries.list.exists(_.id == mine.head.id) && attempts < 40) {
      attempts += 1
      System.gc()
      Thread.sleep(50)
      graft.Graft.sql(spark, "SELECT 1").collect() // tracked() reaps on entry
    }
    assert(!RunningQueries.list.exists(_.id == mine.head.id),
      "abandoned statement never reaped")
  }

  test("an earlier execution of a plan-cached statement does not retire a later one") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
    def ids = RunningQueries.list.map(_.id).toSet
    graft.Graft.sql(spark, "SELECT 1").collect() // the ledger's listener is installed
    // park the listener bus so A's end event is still queued when B is ledgered
    val parked = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    val blocker = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case _: SparkListenerSQLExecutionEnd if parked.getCount > 0 =>
          parked.countDown(); gate.await(60, TimeUnit.SECONDS)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(blocker)
    try {
      spark.range(1).collect()
      assert(parked.await(30, TimeUnit.SECONDS))
      val q = "SELECT count(*) AS n FROM range(4321)"
      val before = ids
      val a = graft.Graft.sql(spark, q)
      val aId = (ids -- before).head
      assert(a.head().getLong(0) == 4321L)
      val b = graft.Graft.sql(spark, q)
      assert(b.queryExecution.analyzed eq a.queryExecution.analyzed,
        "the second statement should be a plan-cache hit sharing the analyzed plan")
      val bId = (ids -- before - aId).head
      gate.countDown()
      val deadline = System.nanoTime() + 30e9.toLong
      while (ids(aId) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!ids(aId), "the executed statement never retired")
      assert(ids(bId), "the first statement's execution retired the second one")
      assert(b.head().getLong(0) == 4321L)
      while (ids(bId) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!ids(bId), "the second statement never retired after its own action")
    } finally {
      gate.countDown()
      spark.sparkContext.removeSparkListener(blocker)
    }
  }

  test("one session's run of a plan-cached statement neither retires nor frees another session's") {
    Queues.define("rq_shared", slots = 2, timeoutMs = 30000)
    val sa = spark.newSession(); val sb = spark.newSession()
    Seq(sa, sb).foreach(_.conf.set(graft.Graft.QueueConf, "rq_shared"))
    def ids = RunningQueries.list.map(_.id).toSet
    def running = Queues.status.find(_.name == "rq_shared").get.running
    try {
      val q = "SELECT count(*) AS n FROM range(5432)"
      val before = ids
      val a = graft.Graft.sql(sa, q)
      val aId = (ids -- before).head
      val b = graft.Graft.sql(sb, q)
      assert(b.queryExecution.analyzed eq a.queryExecution.analyzed,
        "the second session's statement should share the cached analyzed plan")
      val bId = (ids -- before - aId).head
      assert(running == 2)
      assert(a.head().getLong(0) == 5432L)
      org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
      assert(!ids(aId), "the executed statement never retired")
      assert(ids(bId), "another session's execution retired the statement")
      assert(running == 1, "another session's execution freed the statement's slot")
      assert(b.head().getLong(0) == 5432L)
      org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
      assert(!ids(bId) && running == 0)
    } finally Queues.drop("rq_shared")
  }

  test("CANCEL QUERY applies the owner-or-admin rule while auth enforcement is on") {
    import graft.auth.Privileges
    def as(user: String, password: String) = {
      val s = spark.newSession(); Privileges.login(s, user, password); s
    }
    Privileges.clear()
    try {
      spark.sql("CREATE USER rq_admin PASSWORD 'ap' ADMIN")
      spark.sql("CREATE USER rq_owner PASSWORD 'op'")
      spark.sql("CREATE USER rq_other PASSWORD 'xp'")
      spark.sql("ALTER AUTH ENFORCE ON")
      val owner = as("rq_owner", "op")
      // a long statement owned by rq_owner, waited for until it is ledgered
      def start(rows: Long): (Long, Future[scala.util.Try[Array[org.apache.spark.sql.Row]]]) = {
        val before = RunningQueries.list.map(_.id).toSet
        val victim = Future(scala.util.Try(graft.Graft.sql(owner,
          s"SELECT sum(id * id) AS s FROM range($rows)").collect()))
        val deadline = System.nanoTime() + 30e9.toLong
        def fresh = RunningQueries.list.filterNot(r => before(r.id))
        while (fresh.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
        (fresh.head.id, victim)
      }
      val (id, victim) = start(60000000000L)
      val refused = intercept[SecurityException](
        as("rq_other", "xp").sql(s"CANCEL QUERY $id"))
      assert(refused.getMessage.contains("neither admin nor the owner"), refused.getMessage)
      assert(RunningQueries.list.exists(_.id == id) && !victim.isCompleted,
        "a refused cancel must not kill the statement")
      assert(owner.sql(s"CANCEL QUERY $id").head().getString(0) == "true")
      assert(Await.result(victim, 120.seconds).isFailure, "the owner's cancel did not land")
      val (id2, victim2) = start(60000000001L)
      assert(as("rq_admin", "ap").sql(s"CANCEL QUERY $id2").head().getString(0) == "true")
      assert(Await.result(victim2, 120.seconds).isFailure, "the admin's cancel did not land")
    } finally {
      Privileges.clear()
      spark.conf.unset(Privileges.TokenConf)
      spark.conf.unset(Privileges.UserConf)
    }
  }
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as the Spark listener timestamps. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** A span the benchmark records around a call into the engine. */
final case class Span(name: String, start: Double, end: Double)

/** One measured statement as a client saw it. `spans` are the client-side
  * children (construct / execute for DataFrame statements, rest for REST
  * statements). */
final case class Stmt(id: Long, kind: String, label: String,
                      hot: Boolean, pass: Int, start: Double, end: Double,
                      error: Option[String], spans: Seq[Span],
                      responseBytes: Long = 0L, parseMs: Double = 0.0) {
  def wallMs: Double = end - start
}

final case class JobRec(id: Int, start: Long, var end: Long, stageIds: Seq[Int],
                        stmt: Option[Long], execId: Option[Long])
final case class StageRec(id: Int, var start: Long, var end: Long, var tasks: Int = 0,
                          var busyMs: Long = 0, var shuffleWrite: Long = 0,
                          var shuffleRead: Long = 0, var spill: Long = 0,
                          var gcMs: Long = 0, var inputBytes: Long = 0)
final case class QeRec(id: Long, session: Int, at: Long,
                       phases: Map[String, (Long, Long)], scanFiles: Long,
                       readsReflection: Boolean)

/** The per-layer ledger of a traced run: everything Spark's public
  * listener APIs report, kept in memory until the run ends. */
object Ledger {
  /** Local property that tags jobs submitted from a statement's thread. */
  val StmtProp = "perfbench.stmt"
  val FenceGroup = "perfbench-fence"
  @volatile var reflectionPath: String = "\u0000"

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  private val fenceJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  @volatile private var fenceSeen = 0

  object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      if (prop("spark.jobGroup.id").contains(FenceGroup)) { fenceJobs.add(e.jobId); return }
      jobs.put(e.jobId, JobRec(e.jobId, e.time, e.time, e.stageIds,
        prop(StmtProp).map(_.toLong), prop("spark.sql.execution.id").map(_.toLong)))
      e.stageInfos.foreach(s => stages.putIfAbsent(s.stageId, StageRec(s.stageId, e.time, e.time)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (fenceJobs.remove(e.jobId)) Ledger.synchronized { fenceSeen += 1 }
      else Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach { s =>
        s.start = e.stageInfo.submissionTime.getOrElse(s.start)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach { s =>
        s.end = e.stageInfo.completionTime.getOrElse(s.end)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd => Phases.record(end)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.synchronized {
          s.tasks += 1
          if (m != null) {
            s.busyMs += m.executorRunTime
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            s.gcMs += m.jvmGCTime
            s.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
  }

  /** Wait until every listener event posted before this call has been
    * delivered: the shared listener queue is FIFO, so once a fence job's
    * end reaches [[Jobs]], the events queued before it have too. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val before = synchronized(fenceSeen)
    val sc = spark.sparkContext
    sc.setJobGroup(FenceGroup, "listener fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (synchronized(fenceSeen) <= before && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  def clear(): Unit = { jobs.clear(); stages.clear(); qes.clear() }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Planner phases, scanned files and reflection reads of one finished SQL
  * execution, from the `QueryExecution` Spark attaches to its
  * execution-end event. The event reaches the context's listener bus from
  * every session, the REST server's per-request clones included; the
  * event's `qe` field is `private[sql]` in Scala but public in bytecode, so
  * it is read through its accessor. */
object Phases {
  private def field[T](e: AnyRef, name: String): T = e.getClass.getMethod(name).invoke(e).asInstanceOf[T]

  def record(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd): Unit = {
    val qe = field[org.apache.spark.sql.execution.QueryExecution](e, "qe")
    if (qe == null) return
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    var files = 0L
    var reflection = false
    def visit(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => visit(q.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          if (s.relation.location.rootPaths.exists(_.toString.contains(Ledger.reflectionPath)))
            reflection = true
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    try visit(qe.executedPlan) catch { case _: Exception => () }
    Ledger.qes.add(QeRec(e.executionId, System.identityHashCode(qe.sparkSession), e.time,
      phases, files, reflection))
  }
}

package graft.engine

import java.lang.ref.WeakReference
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Command, CommandResult}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.Bridge

/** Live ledger of in-flight statements with cooperative cancellation —
  * the jobs-service half the query history ring doesn't cover. Every
  * `Graft.sql` statement is admitted, tracked, cancelled and retired here.
  *
  * Reference: every submitted job is tracked and cancellable through the
  * jobs service (`services/jobs/src/main/java/com/dremio/service/jobs/
  * LocalJobsService.java:3060` `cancel(CancelJobRequest)`, which routes a
  * `requestCancelQuery` to the foreman running the job).
  *
  * Spark-first re-expression: cancellation is bound to EXECUTION, not to
  * the thread that built the statement. Each tracked statement's analyzed
  * plan is weakly held; a process-wide [[SparkListener]] matches every
  * starting Spark job to its SQL execution and thus to the owning
  * statement id. An execution belongs to a statement when it runs in the
  * statement's session, contains its analyzed plan, and started after the
  * statement was ledgered. The plan cache shares one analyzed plan among
  * every session that runs the same text, so the plan alone would let one
  * request's run retire or cancel another's. "Started after" is exact, not
  * a clock comparison: ledgering a lazy statement posts a
  * [[Bridge.Mark]] on the listener bus, and the bus delivers events in the
  * order they were posted. `CANCEL QUERY id` (a) marks the id cancelled so any
  * job that starts later for that statement is killed at start (covers the
  * submit/cancel race and between-AQE-job windows), (b) kills the already
  * recorded jobs, and (c) cancels the statement's job group INCLUDING
  * future jobs (`cancelJobGroupAndFutureJobs`, Spark 4.x) for work built
  * eagerly on the calling thread. The job group is cleared from the
  * calling thread once the statement is built, so a lazy frame executed
  * after another `Graft.sql` on the same thread is never mis-tagged with
  * the later statement's group (the execution-bound listener, not the
  * thread-local group, is what cancellation relies on).
  *
  *
  * Lifecycle: [[tracked]] ledgers the statement, takes its WLM queue slot
  * when one was routed (the queue's scheduler pool stays set on the
  * calling thread for the statement's lifetime) and builds it. One
  * retirement drops the entry and releases the slot:
  *  - an eager command retires when `Graft.sql` returns (it already ran);
  *  - a lazy frame retires when the first SQL execution that belongs to
  *    it ends, success or failure — seen by the same process-wide
  *    listener that attributes jobs, so no statement registers a listener
  *    of its own;
  *  - a frame abandoned unexecuted is held only weakly, so the next
  *    `tracked` call reaps it once the JVM collects the Dataset.
  *
  * Cancel rule: while auth enforcement is on, only an admin or the
  * statement's owner may cancel it. [[cancel]] is that one check for both
  * `CANCEL QUERY` and REST `POST /jobs/<id>/cancel`.
  */
object RunningQueries {

  final case class Running(id: Long, statement: String, startedMs: Long,
                           owner: Option[String] = None)

  /** One statement in flight, run in the session `session`. `plan` and
    * `frame` are set once a lazy statement is built: executions match on
    * the analyzed plan, while abandonment keys on the caller-owned Dataset
    * (the plan cache may strongly hold the analyzed plan long after the
    * caller dropped it). */
  private final class Entry(val info: Running, val session: String) {
    @volatile var slot: Option[Queues.Slot] = None
    @volatile var plan: WeakReference[AnyRef] = null
    @volatile var frame: WeakReference[AnyRef] = null
    /** Listener-side position of this statement's ledger mark; 0 until the
      * listener has seen it. Written and read by the listener thread. */
    @volatile var markedAt: Long = 0
    /** Spark job ids seen at job start (written by the listener thread). */
    @volatile var jobs: List[Int] = Nil
    /** Set by [[cancel]]: jobs that start later for this statement are
      * killed at start. The entry stays until it retires. */
    val cancelled = new AtomicBoolean(false)

    /** `qe`, whose start the listener saw at position `startedAt`, is a run
      * of this statement. */
    def runs(qe: QueryExecution, startedAt: Long): Boolean = {
      val p = if (plan == null) null else plan.get
      p != null && markedAt > 0 && markedAt <= startedAt &&
        Bridge.sessionId(qe.sparkSession) == session && qe.analyzed.exists(_ eq p)
    }
  }

  private val ids = new AtomicLong()
  private val entries = TrieMap.empty[Long, Entry]
  private val installedOn = TrieMap.empty[SparkContext, Boolean]

  /** The statement's Spark job group (visible in sys_running_queries so a
    * cluster operator can correlate with the Spark UI). */
  def group(id: Long): String = s"graft-query-$id"

  def list: Seq[Running] =
    entries.values.filterNot(_.cancelled.get).map(_.info).toSeq.sortBy(_.id)

  /** Cancel a RUNNING statement on behalf of `spark`'s principal: kills its
    * recorded jobs, its job group's active AND future jobs, and marks it so
    * jobs submitted later for it die at start. Right(false) when the id is
    * not running (finished, never existed, or already cancelled) — the
    * reference's NOT_FOUND ack. Left(reason) when auth enforcement is on
    * and the caller is neither admin nor the statement's owner. */
  def cancel(spark: SparkSession, id: Long): Either[String, Boolean] =
    entries.get(id).filterNot(_.cancelled.get) match {
      case None => Right(false)
      case Some(e) =>
        val auth = graft.auth.Privileges
        val caller = auth.principalOf(spark)
        if (auth.enforcing && !caller.exists(u =>
            u.admin || e.info.owner.exists(_.equalsIgnoreCase(u.name))))
          Left(caller.fold(s"cancelling query $id requires an authenticated " +
            "principal while auth enforcement is on")(u =>
            s"user '${u.name}' is neither admin nor the owner of query $id"))
        // Order matters vs the job-start listener (which records a job
        // BEFORE checking the flag): mark first, then sweep — any
        // concurrent job start is killed by whichever side sees it last.
        else if (!e.cancelled.compareAndSet(false, true)) Right(false)
        else {
          val sc = spark.sparkContext
          sc.cancelJobGroupAndFutureJobs(group(id))
          e.jobs.foreach(j => sc.cancelJob(j, s"cancelled by CANCEL QUERY $id"))
          Right(true)
        }
    }

  /** Run `body` (a statement builder) under a fresh tracked id, admitted
    * through `queue` when one was routed (blocks for a slot; throws
    * [[Queues.AdmissionTimeout]]). The job group is set for the body (an
    * eager command's own jobs are already cancellable) and cleared
    * afterwards; a lazy frame's later actions are matched to the statement
    * by the process-wide listener. */
  def tracked(spark: SparkSession, statement: String, queue: Option[String])
             (body: => DataFrame): DataFrame = {
    reapAbandoned()
    val sc = spark.sparkContext
    ensureListener(sc)
    val id = ids.incrementAndGet()
    val e = new Entry(Running(id, statement.take(500), System.currentTimeMillis(),
      graft.auth.Privileges.principalOf(spark).map(_.name)), Bridge.sessionId(spark))
    entries.put(id, e)
    sc.setJobGroup(group(id), statement.take(200), interruptOnCancel = true)
    val df =
      try {
        queue.foreach { q =>
          val slot = Queues.acquire(q)
          e.slot = Some(slot)
          // the caller's later actions on this thread schedule into the
          // queue's pool (execution-side WLM)
          sc.setLocalProperty("spark.scheduler.pool", slot.pool)
        }
        body
      } catch { case t: Throwable => retire(id); throw t }
      finally sc.clearJobGroup()
    val qe = df.queryExecution
    if (qe.analyzed.isInstanceOf[Command] || qe.analyzed.isInstanceOf[CommandResult] ||
        qe.logical.isInstanceOf[Command]) retire(id)
    else {
      e.plan = new WeakReference[AnyRef](qe.analyzed)
      e.frame = new WeakReference[AnyRef](df)
      Bridge.post(sc, Bridge.Mark(id))
    }
    df
  }

  private def retire(id: Long): Unit =
    entries.remove(id).foreach(_.slot.foreach(_.release()))

  /** Process-wide hook, one per SparkContext. It numbers the ledger marks
    * it sees and notes, per SQL execution, how many it had seen when the
    * execution started. At job start it matches the job's SQL execution to
    * the statements it runs, records the job id (so CANCEL can kill
    * mid-flight work submitted from ANY thread) and kills the job if the
    * statement was already cancelled. At SQL-execution end it retires
    * every lazy statement that execution ran (actions like head()/count()
    * wrap the plan, so the match is containment by reference, not
    * equality). All its state is touched only on the bus's thread. */
  private def ensureListener(sc: SparkContext): Unit =
    if (installedOn.putIfAbsent(sc, true).isEmpty) {
      sc.addSparkListener(new SparkListener {
        private var marks = 0L
        private val startedAt = scala.collection.mutable.HashMap.empty[Long, Long]

        private def running(execId: Long, qe: QueryExecution): Iterator[(Long, Entry)] =
          startedAt.get(execId) match {
            case Some(at) if qe != null => entries.iterator.filter(_._2.runs(qe, at))
            case _ => Iterator.empty // started before this listener existed
          }

        override def onJobStart(jobStart: SparkListenerJobStart): Unit =
          Option(jobStart.properties)
            .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
            .map(_.toLong)
            .foreach(x => running(x, SQLExecution.getQueryExecution(x)).foreach { case (id, e) =>
              e.jobs = jobStart.jobId :: e.jobs // BEFORE the check (see cancel)
              if (e.cancelled.get) sc.cancelJob(jobStart.jobId, s"cancelled by CANCEL QUERY $id")
            })
        override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
          case Bridge.Mark(id) =>
            marks += 1
            entries.get(id).foreach(_.markedAt = marks)
          case start: SparkListenerSQLExecutionStart =>
            startedAt(start.executionId) = marks
          case end: SparkListenerSQLExecutionEnd =>
            running(end.executionId, Bridge.executionOf(end)).foreach(r => retire(r._1))
            startedAt -= end.executionId
          case _ =>
        }
      })
    }

  /** Retire statements whose frame was abandoned without ever running (the
    * WeakReference cleared). Cancelled statements still draining stay until
    * their frame completes or is collected, so late job submissions die. */
  private def reapAbandoned(): Unit =
    entries.foreach { case (id, e) =>
      val f = e.frame
      if (f != null && f.get == null) retire(id)
    }
}

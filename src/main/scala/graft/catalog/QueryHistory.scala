package graft.catalog

import java.util.concurrent.ConcurrentLinkedDeque
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, ExprId, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.catalyst.catalog.HiveTableRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.QueryExecutionListener

/** One completed (or failed) query action, as `sys_queries` reports it. */
final case class QueryRecord(
    id: Long,
    action: String, // collect / save / count / ...
    status: String, // SUCCESS | FAILURE
    durationMs: Double,
    outputRows: Long, // -1 when the metric is absent
    shuffleBytes: Long,
    error: String,
    plan: String, // one-line physical summary
    tsMs: Long,
    // authenticated principal of the issuing session, "" when anonymous
    // — wire statements (Thrift/Connect/REST/Flight) carry their user
    userName: String = "")

/** One equi-join a successful query actually ran, resolved to its base
  * tables — the Spark-native seat of the reference's per-job
  * `JoinAnalysis` (join tables + conditions recorded on every job attempt,
  * `JobsBasedRecommender.java:108-135` consumes them). Keys are listed
  * pairwise: `leftKeys(i) = rightKeys(i)`. */
/** One physical operator of a completed query, with its executed metric
  * values — the per-operator rows of the reference's query profile
  * (`UserBitShared.OperatorProfile`, rendered by the profile viewer's
  * operator table). */
final case class OperatorProfile(
    queryId: Long,
    opId: Int, // preorder position in the final executed plan
    depth: Int,
    operator: String, // node name, e.g. HashAggregate
    detail: String, // truncated simpleString
    metrics: Map[String, Long])

final case class JoinObservation(
    queryId: Long,
    leftTable: String,
    rightTable: String,
    joinType: String,
    leftKeys: Seq[String],
    rightKeys: Seq[String],
    tsMs: Long)

/** Session-wide query history (the Spark-native seat of the reference's
  * jobs service + query profiles — dremio-oss `services/jobs`, profile
  * collection in `sabot/kernel` Foreman observers): a
  * `QueryExecutionListener` records every DataFrame action's duration,
  * output-row count, and shuffled bytes into a bounded ring, surfaced as
  * the `sys_queries` view (InfoSchema). Driver-side metadata only —
  * nothing touches the data path, and the ring is O(MaxEntries) however
  * long the session lives. */
object QueryHistory {

  val MaxEntries = 1000
  /** Per-operator profiles are larger than records; keep fewer. */
  val MaxProfiles = 100
  /** Operator cap per profile — a runaway plan doesn't bloat the ring. */
  val MaxOpsPerProfile = 200

  private val ring = new ConcurrentLinkedDeque[QueryRecord]()
  private val joinRing = new ConcurrentLinkedDeque[JoinObservation]()
  private val profiles = new ConcurrentLinkedDeque[(Long, Seq[OperatorProfile])]()
  private val ids = new AtomicLong()
  // weak keys: sessions come and go in tests; the registry must not pin them
  private val installed = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Register the listener once per session (idempotent). Sessions built
    * by [[graft.engine.GraftSession.configure]] already instantiate
    * [[QueryHistoryListener]] through the `spark.sql.queryExecutionListeners`
    * conf — that path covers EVERY cloned wire session (Thrift, Connect,
    * REST, Flight) automatically, so install() must not double-register
    * there (each action would be recorded twice). */
  def install(spark: SparkSession): Unit = {
    val viaConf =
      try spark.conf.get("spark.sql.queryExecutionListeners", "")
        .contains("QueryHistoryListener")
      catch { case _: Exception => false }
    if (!viaConf && installed.add(spark))
      spark.listenerManager.register(new QueryHistoryListener)
  }

  def records: Seq[QueryRecord] = ring.iterator().asScala.toVector

  def joinObservations: Seq[JoinObservation] = joinRing.iterator().asScala.toVector

  /** Executed per-operator metrics of a completed query (the reference's
    * profile-viewer operator table). Empty when the id has rolled out of
    * the bounded profile ring. */
  def profileOf(id: Long): Seq[OperatorProfile] =
    profiles.iterator().asScala.find(_._1 == id).map(_._2).getOrElse(Nil)

  /** Most recently profiled query id, if any. */
  def latestProfiledId: Option[Long] =
    Option(profiles.peekFirst()).map(_._1)

  private[catalog] def clear(): Unit = { ring.clear(); joinRing.clear(); profiles.clear() }

  private[graft] def record(funcName: String, qe: QueryExecution,
                            durationNs: Long, err: Option[Exception]): Unit =
    push(funcName, qe, durationNs, err)

  /** Final physical plan nodes, descending through AQE wrappers so metrics
    * reflect what actually ran. Each node appears exactly once: an AQE /
    * query-stage wrapper is REPLACED by its executed subtree (not emitted
    * and then re-expanded), so summing a metric over the result never
    * double-counts a stage. */
  private[catalog] def finalPlans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalPlans(a.executedPlan)
    case s: QueryStageExec => finalPlans(s.plan)
    case other => other +: other.children.flatMap(finalPlans)
  }

  /** The rows the plan's root produced: `numOutputRows` of the first node
    * that has the metric, descending only through nodes that keep the row
    * count (a root that whole-stage codegen compiled is a
    * `WholeStageCodegenExec`, which has no such metric); -1 otherwise. */
  private def outputRows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(p match {
      case w: WholeStageCodegenExec => outputRows(w.child)
      case i: InputAdapter => outputRows(i.child)
      case pr: ProjectExec => outputRows(pr.child)
      case _ => -1L
    })

  private def principal(qe: QueryExecution): String =
    try graft.auth.Privileges.principalOf(qe.sparkSession).map(_.name).getOrElse("")
    catch { case _: Throwable => "" }

  private def push(action: String, qe: QueryExecution,
                   durationNs: Long, err: Option[Exception]): Unit = {
    val rec = try {
      val plans = finalPlans(qe.executedPlan)
      val rows = plans.headOption.map(outputRows).getOrElse(-1L)
      val shuffled = plans.flatMap(_.metrics.get("shuffleBytesWritten").map(_.value)).sum
      QueryRecord(ids.incrementAndGet(), action,
        if (err.isEmpty) "SUCCESS" else "FAILURE",
        durationNs / 1e6, rows, shuffled,
        err.map(e => String.valueOf(e.getMessage).take(500)).getOrElse(""),
        qe.executedPlan.nodeName, System.currentTimeMillis(), principal(qe))
    } catch {
      case _: Throwable => // a half-built plan (early analysis failure)
        QueryRecord(ids.incrementAndGet(), action,
          if (err.isEmpty) "SUCCESS" else "FAILURE", durationNs / 1e6, -1L, 0L,
          err.map(e => String.valueOf(e.getMessage).take(500)).getOrElse(""),
          "", System.currentTimeMillis(), principal(qe))
    }
    ring.addFirst(rec)
    while (ring.size() > MaxEntries) ring.pollLast()
    if (err.isEmpty) { // reference: only COMPLETED jobs feed join analysis
      try extractJoins(qe.analyzed, rec.id, rec.tsMs).foreach { o =>
        joinRing.addFirst(o)
        while (joinRing.size() > MaxEntries) joinRing.pollLast()
      } catch { case _: Throwable => () }
      try {
        val ops = finalPlansDepth(qe.executedPlan, 0).take(MaxOpsPerProfile)
          .zipWithIndex.map { case ((n, d), i) =>
            OperatorProfile(rec.id, i, d, n.nodeName,
              n.simpleString(25).take(500),
              n.metrics.map { case (k, m) => k -> m.value })
          }
        profiles.addFirst(rec.id -> ops)
        while (profiles.size() > MaxProfiles) profiles.pollLast()
      } catch { case _: Throwable => () }
    }
  }

  /** [[finalPlans]] with tree depth preserved (AQE wrappers are
    * transparent: the executed subtree keeps the wrapper's depth). */
  private def finalPlansDepth(p: SparkPlan, d: Int): Seq[(SparkPlan, Int)] = p match {
    case a: AdaptiveSparkPlanExec => finalPlansDepth(a.executedPlan, d)
    case s: QueryStageExec => finalPlansDepth(s.plan, d)
    case other => (other, d) +: other.children.flatMap(c => finalPlansDepth(c, d + 1))
  }

  // ------------------------------------------------------------ join analysis

  private object Conjuncts extends PredicateHelper {
    def split(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      splitConjunctivePredicates(e)
  }

  /** The stable identity of a base relation: catalog name when it has one,
    * else the normalized root path of the file relation. */
  private def leafTable(p: LogicalPlan): Option[String] = p match {
    case l: LogicalRelation =>
      l.catalogTable.map(_.identifier.unquotedString).orElse(l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.headOption
            .map(rp => graft.accel.Reflections.normPath(rp.toString))
        case _ => None
      })
    case h: HiveTableRelation => Some(h.tableMeta.identifier.unquotedString)
    case d: DataSourceV2Relation => Option(d.table).map(_.name())
    case _ => None
  }

  /** Every equi-join in the analyzed plan whose keys resolve (by ExprId,
    * through any Project/Filter/alias chain) to two base relations. A
    * condition mixing several leaf pairs yields one observation per pair. */
  private[catalog] def extractJoins(plan: LogicalPlan, qid: Long,
                                    ts: Long): Seq[JoinObservation] =
    plan.collect {
      case Join(left, right, jt, Some(cond), _) =>
        def originMap(side: LogicalPlan): Map[ExprId, (String, String)] =
          side.collectLeaves().flatMap { lf =>
            leafTable(lf).toSeq.flatMap(t => lf.output.map(a => a.exprId -> (t, a.name)))
          }.toMap
        val lm = originMap(left)
        val rm = originMap(right)
        Conjuncts.split(cond)
          .collect {
            case EqualTo(a: AttributeReference, b: AttributeReference)
                if lm.contains(a.exprId) && rm.contains(b.exprId) =>
              (lm(a.exprId), rm(b.exprId))
            case EqualTo(a: AttributeReference, b: AttributeReference)
                if lm.contains(b.exprId) && rm.contains(a.exprId) =>
              (lm(b.exprId), rm(a.exprId))
          }
          .groupBy { case ((lt, _), (rt, _)) => (lt, rt) }
          .map { case ((lt, rt), pairs) =>
            JoinObservation(qid, lt, rt, jt.sql,
              pairs.map(_._1._2), pairs.map(_._2._2), ts)
          }
    }.flatten
}

/** Zero-arg [[QueryExecutionListener]] for the
  * `spark.sql.queryExecutionListeners` conf: Spark instantiates one per
  * NEW session (cloned wire sessions included), all feeding the shared
  * [[QueryHistory]] ring — the jobs service is wire-first, like the
  * reference's. */
final class QueryHistoryListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    QueryHistory.record(funcName, qe, durationNs, None)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    QueryHistory.record(funcName, qe, 0L, Some(ex))
}

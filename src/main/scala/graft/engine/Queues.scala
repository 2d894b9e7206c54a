package graft.engine

import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.SparkSession

/** Workload management: named admission queues with bounded concurrency
  * and an enqueue timeout, mapped onto Spark's scheduler pools.
  *
  * Reference: the resource scheduler queues queries by cost class with a
  * concurrency limit and a queue-entry timeout
  * (`services/resourcescheduler/src/main/java/com/dremio/resource/basic/
  * BasicResourceAllocator.java`, `BasicResourceConstants.java:32`
  * `exec.queue.timeout_millis`, `QueueType.java` SMALL/LARGE), so a burst
  * of expensive queries cannot starve interactive ones.
  *
  * Spark-first re-expression: admission is a driver-side fair semaphore
  * per queue (the cluster-level slot ledger), and *execution* isolation is
  * Spark's own fair scheduler — each queue names a scheduler pool, set via
  * the `spark.scheduler.pool` thread-local property for the duration of
  * the admitted action, so the cluster shares resources between queues the
  * way the reference shares slices between its queues. Everything is
  * driver-side metadata: zero cost in the data plane.
  *
  * This object only grants and counts slots. A `Graft.sql` statement's
  * slot is a field of its [[RunningQueries]] ledger entry: the retirement
  * that drops the entry also releases the slot.
  */
object Queues {

  /** @param slots max queries admitted concurrently
    * @param timeoutMs max wait for a slot before AdmissionTimeout
    * @param pool Spark fair-scheduler pool the admitted query runs in */
  final case class QueueDef(name: String, slots: Int, timeoutMs: Long, pool: String)

  final class AdmissionTimeout(queue: String, timeoutMs: Long)
    extends RuntimeException(
      s"query did not enter queue '$queue' within ${timeoutMs}ms")

  private final class State(val defn: QueueDef) {
    val sem = new Semaphore(defn.slots, true) // fair: FIFO admission order
    val queued = new AtomicLong(0)
    val running = new AtomicLong(0)
    val admitted = new AtomicLong(0)
    val timedOut = new AtomicLong(0)
    val peakQueued = new AtomicLong(0)
  }

  private val states = TrieMap.empty[String, State]

  /** Define (or redefine) a queue. Redefinition replaces the slot ledger —
    * in-flight queries keep their already-granted slots. */
  def define(name: String, slots: Int, timeoutMs: Long = 5L * 60 * 1000,
             pool: String = null): Unit = {
    require(slots > 0, "queue needs at least one slot")
    states.put(name, new State(QueueDef(name, slots, timeoutMs,
      Option(pool).getOrElse(name))))
  }

  def drop(name: String): Unit = states.remove(name)
  def clear(): Unit = { states.clear(); engines.clear() }
  def defined(name: String): Boolean = states.contains(name)
  def definition(name: String): Option[QueueDef] = states.get(name).map(_.defn)

  // ----- elastic engines (reference SqlAlterEngine, parserImpls.ftl:1877:
  // ALTER ENGINE <name> SET (MIN_REPLICAS = n, MAX_REPLICAS = m)) -------

  /** Declared replica bounds for an engine. The reference resizes an
    * elastic engine's executor replica range; on Spark the executor
    * count belongs to the cluster manager (dynamic allocation is a
    * launch-time contract), so the engine's Spark-side lever is
    * ADMISSION CONCURRENCY: the engine's same-named WLM queue resizes
    * its slots to maxReplicas, while the declared bounds stay visible as
    * metadata (`SHOW ENGINES`). Routing rules already target queues by
    * name, so "engine" and "queue" share the namespace exactly like the
    * reference's queue→engine binding. */
  final case class EngineDef(name: String, minReplicas: Int, maxReplicas: Int)

  private val engines = TrieMap.empty[String, EngineDef]

  /** ALTER ENGINE: update whichever bounds were given (the reference
    * allows either, in either order), validate, and resize the
    * same-named queue's admission slots to the new maximum. */
  def alterEngine(name: String, minReplicas: Option[Int],
                  maxReplicas: Option[Int]): EngineDef = {
    val cur = engines.getOrElse(name,
      EngineDef(name, 0, definition(name).map(_.slots).getOrElse(1)))
    val nd = EngineDef(name,
      minReplicas.getOrElse(cur.minReplicas),
      maxReplicas.getOrElse(cur.maxReplicas))
    require(nd.minReplicas >= 0, s"MIN_REPLICAS must be >= 0: ${nd.minReplicas}")
    require(nd.maxReplicas >= 1 && nd.maxReplicas >= nd.minReplicas,
      s"MAX_REPLICAS (${nd.maxReplicas}) must be >= 1 and >= MIN_REPLICAS " +
        s"(${nd.minReplicas})")
    engines.put(name, nd)
    definition(name) match {
      case Some(q) => define(name, nd.maxReplicas, q.timeoutMs, q.pool)
      case None    => define(name, nd.maxReplicas)
    }
    nd
  }

  def listEngines: Seq[EngineDef] = engines.values.toSeq.sortBy(_.name)

  /** A granted admission slot; its holder releases it exactly once. */
  final class Slot private[Queues] (st: State) {
    /** Spark fair-scheduler pool the admitted statement runs in. */
    def pool: String = st.defn.pool
    def release(): Unit = { st.running.decrementAndGet(); st.sem.release() }
  }

  /** Block for a slot in the queue (FIFO, up to its timeoutMs). Throws
    * AdmissionTimeout when none frees in time. */
  def acquire(queueName: String): Slot = {
    val st = states.getOrElse(queueName,
      throw new NoSuchElementException(s"no such queue: $queueName"))
    val q = st.queued.incrementAndGet()
    st.peakQueued.getAndUpdate(p => math.max(p, q))
    val got =
      try st.sem.tryAcquire(st.defn.timeoutMs, TimeUnit.MILLISECONDS)
      finally st.queued.decrementAndGet()
    if (!got) {
      st.timedOut.incrementAndGet()
      throw new AdmissionTimeout(queueName, st.defn.timeoutMs)
    }
    st.admitted.incrementAndGet()
    st.running.incrementAndGet()
    new Slot(st)
  }

  /** Run `body` under the queue's admission control: blocks for a slot,
    * tags the calling thread's jobs with the queue's scheduler pool, and
    * releases the slot when the body returns or throws. `Graft.sql`
    * statements are admitted by [[RunningQueries.tracked]] instead, which
    * holds a lazy statement's slot until its first action completes.
    * Queries on threads that go through neither are unmanaged — same as
    * the reference with queueing disabled. */
  def run[T](spark: SparkSession, queueName: String)(body: => T): T = {
    val slot = acquire(queueName)
    val sc = spark.sparkContext
    val prevPool = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", slot.pool)
    try body
    finally {
      sc.setLocalProperty("spark.scheduler.pool", prevPool)
      slot.release()
    }
  }

  // ---- rule-based routing (reference `RuleBasedEngineSelector.java:22`:
  // ordered rules evaluated against the query context pick the target
  // engine; the OSS tree ships the seam — `resolveAndUpdateEngine` wired
  // through Foreman/AttemptManager — with the rule evaluation behind it.
  // Re-expression: ordered rules, each an arbitrary SQL boolean over the
  // statement context (user_name, roles, query_type, statement,
  // est_cost), first match by (priority, name) routes to its queue.
  // Rules are driver-side metadata; with none defined the path is free.)

  /** A defined rule: `pred` is the condition COMPILED at definition time
    * — parsed, analyzed against the RouteCtx schema, and bound to a raw
    * Catalyst predicate — so routing a statement is N in-memory
    * expression evaluations, not N analyzer invocations (r10 VERDICT
    * nit), and a malformed condition refuses at CREATE ROUTING RULE
    * instead of silently never matching. */
  final case class RoutingRule(name: String, priority: Int,
                               cond: String, queue: String,
                               pred: RouteCtx => Boolean)

  /** The 1-row statement context a rule's condition sees. */
  final case class RouteCtx(user_name: String, roles: Seq[String],
                            query_type: String, statement: String,
                            est_cost: Long)

  private val rules = TrieMap.empty[String, RoutingRule]

  /** Define (or redefine) a routing rule. The target queue must exist and
    * the condition must analyze as a boolean over the context columns at
    * definition time (the reference errors on an unknown engine; a
    * condition typo surfacing here beats one silently skipping forever). */
  def defineRule(spark: SparkSession, name: String, priority: Int,
                 cond: String, queue: String): Unit = {
    require(defined(queue),
      s"ROUTE TO names an undefined queue: $queue (CREATE QUEUE first)")
    val n = name.toLowerCase
    rules.put(n, RoutingRule(n, priority, cond, queue, compileCond(spark, cond)))
  }

  /** Analyze `cond` once against the context schema and bind it to a
    * Catalyst predicate evaluated directly per statement. Throws
    * AnalysisException on an unresolvable condition. Evaluation is
    * serialized per rule (the encoder's serializer reuses its row
    * buffer); routing is driver-side metadata, so the lock is nanoseconds
    * against an admission path measured in milliseconds. */
  private def compileCond(spark: SparkSession, cond: String): RouteCtx => Boolean = {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, Nondeterministic}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val analyzed = Seq(RouteCtx("", Nil, "", "", 0L)).toDS()
      .filter(expr(cond)).queryExecution.analyzed // throws on a bad cond
    val f = analyzed.collectFirst { case f: Filter => f }.getOrElse(
      throw new IllegalArgumentException(
        s"WHEN condition did not analyze to a boolean filter: $cond"))
    val bound = BindReferences.bindReference(f.condition, f.child.output)
    bound.foreach {
      case n: Nondeterministic => n.initialize(0)
      case _ => ()
    }
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[RouteCtx]()
      .resolveAndBind()
    val serializer = enc.createSerializer()
    val lock = new Object
    val pred: RouteCtx => Boolean =
      ctx => lock.synchronized { bound.eval(serializer(ctx)) == true }
    // probe once: a condition that ANALYZES but cannot EVALUATE as a
    // bound raw predicate (scalar subqueries, exists, ...) must refuse at
    // DEFINE time — route()'s NonFatal skip would otherwise silence it on
    // every statement forever, the exact failure mode compiling was
    // supposed to eliminate
    try pred(RouteCtx("", Nil, "", "", 0L))
    catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"WHEN condition cannot be evaluated as a routing predicate " +
            s"(subqueries are not supported here): $cond — " +
            s"${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")
    }
    pred
  }

  def dropRule(name: String): Unit = rules.remove(name.toLowerCase)
  def clearRules(): Unit = rules.clear()
  def listRules: Seq[RoutingRule] =
    rules.values.toSeq.sortBy(r => (r.priority, r.name))
  def hasRules: Boolean = rules.nonEmpty
  /** Cost estimation is only worth paying when some rule reads it. */
  def anyRuleNeedsCost: Boolean =
    rules.values.exists(_.cond.toLowerCase.contains("est_cost"))

  /** First matching rule's queue for the statement context. A rule whose
    * queue was dropped since definition is skipped; a rule whose compiled
    * predicate throws at evaluation is skipped (one broken rule must not
    * take down every statement). No analyzer work per statement — the
    * conditions were bound at definition. */
  def route(spark: SparkSession, ctx: RouteCtx): Option[String] = {
    if (rules.isEmpty) return None
    import scala.util.control.NonFatal
    listRules.find { r =>
      defined(r.queue) &&
        (try r.pred(ctx) catch { case NonFatal(_) => false })
    }.map(_.queue)
  }

  /** Live status snapshot (backs the sys_queues view). */
  final case class QueueStatus(name: String, slots: Int, pool: String,
                               timeoutMs: Long, running: Long, queued: Long,
                               admitted: Long, timedOut: Long, peakQueued: Long)

  def status: Seq[QueueStatus] = states.values.toSeq.sortBy(_.defn.name).map { st =>
    QueueStatus(st.defn.name, st.defn.slots, st.defn.pool, st.defn.timeoutMs,
      st.running.get, st.queued.get, st.admitted.get, st.timedOut.get,
      st.peakQueued.get)
  }
}

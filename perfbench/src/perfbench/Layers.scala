package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Attributes the ledger (Spark jobs, stages, planner phases) to the
  * statements the clients measured, and splits each statement's wall time
  * into per-layer self time.
  *
  * A job belongs to the statement whose thread tagged it
  * ([[Ledger.StmtProp]]), else to the statement that owns its SQL
  * execution, else to the latest-started statement whose interval contains
  * it. A planner phase report belongs to the statement whose interval
  * contains it; reports from one REST request's cloned session are kept
  * together. Every instant of a statement's wall time is charged to the
  * deepest span covering it (stage > job > planner phase > client span >
  * statement), so the self times of one statement add up to its wall time
  * and the statement level itself is the unattributed remainder. */
/** A span clipped to its statement, at a depth `level`. */
private final case class Iv(level: Int, name: String, layer: String, start: Double, end: Double)

final class Layers(stmts: Seq[Stmt], jobList: Seq[JobRec],
                   stageMap: java.util.Map[Int, StageRec],
                   qeQueue: java.util.Collection[QeRec], rootSession: Int) {
  private val jobs = jobList.map(_.copy())
  private val stages: Map[Int, StageRec] = stageMap.asScala.toMap.map { case (k, s) => k -> s.copy() }
  private val qes = qeQueue.asScala.toSeq
  private val byId = stmts.map(s => s.id -> s).toMap

  private def owner(t0: Double, t1: Double): Option[Stmt] = {
    val c = stmts.filter(s => s.start - 1 <= t0 && t1 <= s.end + 1)
    if (c.isEmpty) None else Some(c.maxBy(_.start))
  }
  private def range(q: Seq[QeRec]): (Double, Double) = {
    val ph = q.flatMap(_.phases.values)
    if (ph.isEmpty) (q.map(_.at).min.toDouble, q.map(_.at).max.toDouble)
    else (ph.map(_._1).min.toDouble, ph.map(_._2).max.toDouble)
  }

  /** QE id -> statement id. */
  val qeStmt: Map[Long, Long] = {
    val (root, clones) = qes.partition(_.session == rootSession)
    val single = root.flatMap(q => { val (a, b) = range(Seq(q)); owner(a, b).map(q.id -> _.id) })
    val grouped = clones.groupBy(_.session).values.flatMap { g =>
      val (a, b) = range(g)
      owner(a, b).toSeq.flatMap(s => g.map(_.id -> s.id))
    }
    (single ++ grouped).toMap
  }

  /** Job id -> statement id. */
  val jobStmt: Map[Int, Long] = jobs.flatMap { j =>
    j.stmt.filter(byId.contains)
      .orElse(j.execId.flatMap(qeStmt.get))
      .orElse(owner(j.start.toDouble, j.end.toDouble).map(_.id))
      .map(j.id -> _)
  }.toMap

  val jobsOf: Map[Long, Seq[JobRec]] = jobs.filter(j => jobStmt.contains(j.id)).groupBy(j => jobStmt(j.id))
  val qesOf: Map[Long, Seq[QeRec]] = qes.filter(q => qeStmt.contains(q.id)).groupBy(q => qeStmt(q.id))

  def stagesOf(id: Long): Seq[StageRec] =
    jobsOf.getOrElse(id, Nil).flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.tasks > 0)

  private val clientLayer = Map("construct" -> "construct", "execute" -> "engine.driver", "rest" -> "server")
  private val phaseLayer = Map("parsing" -> "sqlext.parse", "analysis" -> "plan.analysis",
    "optimization" -> "plan.optimization", "planning" -> "plan.physical")
  val layerNames: Seq[String] = Seq("unattributed", "construct", "server", "engine.driver",
    "sqlext.parse", "plan.analysis", "plan.optimization", "plan.physical", "engine.job", "engine.stage")

  private def intervals(s: Stmt): Seq[Iv] = {
    val client = s.spans.map(sp => Iv(1, sp.name, clientLayer(sp.name), sp.start, sp.end))
    val phases = qesOf.getOrElse(s.id, Nil).flatMap(_.phases.toSeq.collect {
      case (p, (a, b)) if phaseLayer.contains(p) => Iv(2, p, phaseLayer(p), a.toDouble, b.toDouble)
    })
    val js = jobsOf.getOrElse(s.id, Nil).map(j => Iv(3, s"job ${j.id}", "engine.job", j.start.toDouble, j.end.toDouble))
    val ss = stagesOf(s.id).map(st => Iv(4, s"stage ${st.id}", "engine.stage", st.start.toDouble, st.end.toDouble))
    (Iv(0, "statement", "unattributed", s.start, s.end) +: (client ++ phases ++ js ++ ss))
      .map(i => i.copy(start = math.max(i.start, s.start), end = math.min(i.end, s.end)))
      .filter(i => i.end > i.start || i.level == 0)
  }

  /** Self time per layer (ms) of one statement; the values add up to its
    * wall time. */
  def selfTimes(s: Stmt): Map[String, Double] = {
    val ivs = intervals(s)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val cuts = ivs.flatMap(i => Seq(i.start, i.end)).distinct.sorted
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val top = ivs.filter(i => i.start <= mid && mid < i.end).maxBy(_.level)
      acc(top.layer) += b - a
    }
    acc.toMap
  }

  /** Statement wall time covered by none of its jobs (ms). */
  def driverGapMs(s: Stmt): Double = s.wallMs - selfTimes(s).collect {
    case (l, v) if l == "engine.job" || l == "engine.stage" => v
  }.sum

  def phaseMs(s: Stmt, phase: String): Double =
    qesOf.getOrElse(s.id, Nil).flatMap(_.phases.get(phase)).map { case (a, b) => (b - a).toDouble }.sum

  /** Counters and self times summed over `subset`, as per-layer metrics. */
  def engineMetrics(subset: Seq[Stmt], wallS: Double, cores: Int): Json.Obj = {
    val n = math.max(subset.size, 1).toDouble
    val js = subset.flatMap(s => jobsOf.getOrElse(s.id, Nil))
    val ss = subset.flatMap(s => stagesOf(s.id))
    val busyS = ss.map(_.busyMs).sum / 1000.0
    val self = subset.map(selfTimes)
    val o = new Json.Obj()
      .put("engine.jobs_per_stmt", js.size / n)
      .put("engine.stages_per_stmt", ss.size / n)
      .put("engine.tasks_per_stmt", ss.map(_.tasks).sum / n)
      .put("engine.task_busy_s", busyS)
      .put("engine.core_utilization", if (wallS > 0) busyS / (wallS * cores) else 0.0)
      .put("engine.shuffle_write_bytes", ss.map(_.shuffleWrite).sum.toDouble)
      .put("engine.shuffle_read_bytes", ss.map(_.shuffleRead).sum.toDouble)
      .put("engine.spill_bytes", ss.map(_.spill).sum.toDouble)
      .put("engine.gc_s", ss.map(_.gcMs).sum / 1000.0)
      .put("engine.driver_gap_s", subset.map(driverGapMs).sum / 1000.0)
      .put("engine.scan_files_per_stmt", subset.flatMap(s => qesOf.getOrElse(s.id, Nil)).map(_.scanFiles).sum / n)
      .put("engine.scan_bytes_per_stmt", ss.map(_.inputBytes).sum / n)
      .put("plan.analysis_ms_p50", Stats.median(subset.map(phaseMs(_, "analysis"))))
      .put("plan.optimization_ms_p50", Stats.median(subset.map(phaseMs(_, "optimization"))))
      .put("plan.physical_ms_p50", Stats.median(subset.map(phaseMs(_, "planning"))))
    layerNames.foreach(l => o.put(s"self.${l}_ms_per_stmt", self.map(_.getOrElse(l, 0.0)).sum / n))
    o.put("self.wall_ms_per_stmt", subset.map(_.wallMs).sum / n)
    o
  }

  /** How much of the ledger could be attributed to a statement. */
  def coverage: Json.Obj = new Json.Obj()
    .put("jobs", jobs.size.toDouble).put("jobs_attributed", jobStmt.size.toDouble)
    .put("query_executions", qes.size.toDouble)
    .put("query_executions_attributed", qeStmt.size.toDouble)

  /** Writes every span of every statement, one JSON object a line:
    * statement -> client span -> planner phase / job -> stage. */
  def writeSpans(path: Path): Unit = {
    val sb = new StringBuilder
    var next = 0L
    def emit(stmt: Long, parent: Long, name: String, layer: String, a: Double, b: Double): Long = {
      next += 1
      sb.append(new Json.Obj().put("stmt", stmt.toDouble).put("id", next.toDouble)
        .put("parent", parent.toDouble).put("name", name).put("layer", layer)
        .put("start", a).put("end", b).render).append('\n')
      next
    }
    stmts.foreach { s =>
      val root = emit(s.id, 0, s"${s.kind} ${s.label}", "unattributed", s.start, s.end)
      val ivs = intervals(s).filter(_.level > 0).sortBy(i => (i.level, i.start))
      val ids = mutable.ArrayBuffer.empty[(Iv, Long)]
      ivs.foreach { i =>
        val parent = ids.filter { case (p, _) => p.level < i.level && p.start <= i.start && i.end <= p.end }
          .sortBy(-_._1.level).headOption.map(_._2).getOrElse(root)
        ids += i -> emit(s.id, parent, i.name, i.layer, i.start, i.end)
      }
    }
    Files.writeString(path, sb.toString)
  }
}

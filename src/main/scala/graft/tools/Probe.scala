package graft.tools

import graft.engine.{GraftSession, Tables}

/** Dev utility over the registered queries
  * (`runMain graft.tools.Probe <command> <query> [sfDir] ...`):
  *  - `explain <query> [sfDir]`: formatted plan and the first rows;
  *  - `time <query> [sfDir]`: three warm runs through the noop sink;
  *  - `profile <query> [sfDir]`: per-job walls and driver gaps of a warm run;
  *  - `codegen <query> <sfDir>`: janino compilations of a warm run;
  *  - `ab <query> <sfDir> <confKey> [reps=5] [cores=8]`: same-JVM A/B of a
  *    boolean session conf;
  *  - no command: the fixture schemas as Spark sees them.
  * `ab` and `codegen` take `sfDir` explicitly (their counts and timings
  * depend on the scale) and print only their result lines (Spark logs at
  * ERROR).
  * Every timing warms once (codegen + footers) and then times runs through
  * the noop sink — the measurement Bench takes, minus cross-query JIT and
  * GC interference.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    require(args.length > (cmd match { case "ab" => 3; case "codegen" => 2; case _ => 0 }),
      "usage: codegen <query> <sfDir> | ab <query> <sfDir> <confKey> [reps] [cores]")
    val spark = GraftSession.local(if (cmd == "ab" && args.length > 5) args(5).toInt else 8)
    if (cmd == "ab" || cmd == "codegen") spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    lazy val fn = graft.SparkEntry.queries(args(1))
    def noop(): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    args.headOption match {
      case Some("explain") =>
        val df = fn(spark, dir)
        df.explain("formatted")
        df.show(5, truncate = false)
      case Some("time") =>
        noop()
        val times = (1 to 3).map(_ => noop())
        println(f"[probe] ${args(1)} runs: ${times.map(t => f"$t%.3f").mkString(", ")} s")
      case Some("codegen") =>
        // tells "driver gap = fresh codegen per round" apart from
        // "driver gap = analysis/planning"
        noop()
        val m = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
        val c0 = m.getCount
        val wall = noop()
        println(f"[probe] ${args(1)} wall=$wall%.3fs compilations(warm run)=${m.getCount - c0} totalCompilationsEver=${m.getCount}")
      case Some("ab") =>
        // both arms interleave inside the same ambient-load window, and the
        // arm that runs first alternates each repetition, so neither one
        // always inherits the other's warm caches
        val key = args(3)
        val reps = if (args.length > 4) args(4).toInt else 5
        val arms = Seq("true", "false")
        val times = arms.map(_ -> collection.mutable.ArrayBuffer.empty[Double]).toMap
        arms.foreach { v => spark.conf.set(key, v); noop() }
        (0 until reps).foreach { r =>
          (if (r % 2 == 0) arms else arms.reverse).foreach { v =>
            spark.conf.set(key, v); times(v) += noop()
          }
        }
        arms.foreach { v =>
          val s = times(v).sorted
          println(f"[ab] ${args(1)} $key=$v%-5s min=${s.head}%.3f med=${s(s.length / 2)}%.3f " +
            s"all=[${s.map(t => f"$t%.2f").mkString(",")}]")
        }
      case Some("profile") =>
        // per-JOB wall clock from a listener, so "many tiny sequential
        // jobs" (driver/commit overhead) separates from "one heavy stage"
        // (executor compute). Gaps between jobs are driver-side work
        // (planning, collects, FS commits).
        noop()
        val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Int)]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.put(js.jobId, (js.time, 0L, js.stageInfos.map(_.numTasks).sum))
          override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val prev = jobs.get(je.jobId)
            if (prev != null) jobs.put(je.jobId, (prev._1, je.time, prev._3))
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val wall = noop()
        spark.sparkContext.removeSparkListener(listener)
        import scala.jdk.CollectionConverters._
        val rows = jobs.asScala.toSeq.sortBy(_._1)
        var prevEnd = 0L
        var jobSum = 0.0
        rows.foreach { case (id, (s, e, nt)) =>
          val gap = if (prevEnd == 0L) 0.0 else (s - prevEnd) / 1e3
          val durS = (e - s) / 1e3
          jobSum += durS
          println(f"[probe] job $id%4d dur=$durS%7.3fs tasks=$nt%4d gapBefore=$gap%7.3fs")
          prevEnd = e
        }
        println(f"[probe] ${args(1)} wall=$wall%.3fs jobs=${rows.size} jobTime=$jobSum%.3fs driverGap=${wall - jobSum}%.3fs")
      case _ =>
        val t = Tables.ensure(spark, dir)
        Tables.names.foreach { n => println(s"== $n"); t.table(n).printSchema() }
    }
    spark.stop()
  }
}

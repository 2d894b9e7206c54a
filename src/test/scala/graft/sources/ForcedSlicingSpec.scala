package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The oracle queries where row-range slicing fires. At sf0.01 every
  * fixture file fits in one byte split, so the oracle gate alone never
  * reads a sliced row group. Here the registered TPC-H, relational and
  * events queries, plus one `lake_scan`, run twice on sf0.01: with the
  * default split size, and with `spark.sql.files.maxPartitionBytes` at
  * 1 KB, so every fixture row group over 1.5 KB (all but region's and
  * nation's) is sliced. The sorted
  * rows must be identical — except for the approximate aggregates whose
  * estimate depends on how the input is partitioned (a DataSketches HLL
  * union, percentile_approx's merged summaries), held to 1%. */
class ForcedSlicingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = new java.io.File(TestSpark.sf).getParent + "/sf0.01"
  private val SplitBytes = "1024"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private val Sketches = Set("agg_ndv_sketch", "agg_percentile_approx")

  private def within1Pct(a: Seq[String], b: Seq[String]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      val (xs, ys) = (x.split('|'), y.split('|'))
      xs.length == ys.length && xs.zip(ys).forall { case (u, v) =>
        u == v || ((u.toDoubleOption, v.toDoubleOption) match {
          case (Some(p), Some(q)) => math.abs(p - q) <= 0.01 * math.max(math.abs(p), math.abs(q))
          case _ => false
        })
      }
    }

  private def forced[T](body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, SplitBytes)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Tasks that read records while `body` runs. */
  private def readingTasks(body: => Unit): Long = {
    val tasks = new AtomicLong()
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.inputMetrics.recordsRead > 0)
          tasks.incrementAndGet()
    }
    org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.sql.graft.Bridge.waitListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    tasks.get
  }

  test("TPC-H, relational, events and lake_scan queries return the same rows when sliced") {
    val queries = graft.queries.Tpch.queries ++ graft.queries.Relational.queries ++
      graft.queries.Events.queries ++
      Map("lake_scan_tvf" -> graft.queries.Lake.queries("lake_scan_tvf"))
    val differing = queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val whole = rows(q(spark, dir))
      val sliced = forced(rows(q(spark, dir)))
      if (whole == sliced || (Sketches(name) && within1Pct(whole, sliced))) None
      else Some(s"$name: ${whole.size} rows whole, ${sliced.size} sliced; first difference " +
        whole.zipAll(sliced, "<none>", "<none>").find { case (a, b) => a != b })
    }
    assert(differing.isEmpty, differing.mkString("\n"))
  }

  test("forced splits slice the fixture scans") {
    val q = graft.queries.Tpch.queries("tpch_q01")
    val whole = readingTasks(q(spark, dir).collect())
    val sliced = forced(readingTasks(q(spark, dir).collect()))
    // lineitem.parquet is one row group of about 1 MB: one reading task whole
    assert(whole == 1)
    assert(sliced > 100, s"$sliced tasks read lineitem rows")
  }
}

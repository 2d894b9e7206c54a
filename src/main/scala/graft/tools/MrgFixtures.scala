package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev utility for the optimization rounds (r16 verdict item 1): derive a
  * MULTI-ROW-GROUP copy of a fixture directory so the bench can measure
  * scan parallelism. The sf0.1 fixtures are single-row-group
  * parquet files of at most ~11 MB: row-range slicing
  * (`sources.RowSlices`) reads each by as many tasks as it has byte splits
  * (3 for lineitem at the default 4 MB floor, 1 for every file under it),
  * far below 32, so 8-core vs 32-core per-query ratios still sit near 1
  * regardless of the plan — the measurement instrument, not the engine,
  * is the bottleneck. With a row-group size (`parquet.block.size`, in
  * bytes) and few files, the copy instead has several row groups per file,
  * not aligned to Spark's byte splits: groups that straddle a split
  * boundary, which slicing leaves whole unless a group exceeds 1.5
  * splits.
  * The fixture directory itself is read-only by contract (TESTDATA.md), so
  * this writes a SIBLING directory for local A/B only; `graft.Bench` takes it via `$SPARK_GRAFT_SF_DIR`
  * (the bench contract is unchanged).
  *
  * Row CONTENT is identical (same rows, re-sharded); row ORDER is not
  * guaranteed across files, which is fine for timing runs (the oracle gate
  * keeps running against the driver fixtures).
  *
  * Usage: runMain graft.tools.MrgFixtures <srcDir> <dstDir> [files=32] [rowGroupBytes]
  */
object MrgFixtures {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val nFiles = if (args.length > 2) args(2).toInt else 32
    val groupBytes = args.lift(3)
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("mrg-fixtures")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.Tables.names.foreach { n =>
      val in = s"$src/$n.parquet"
      val df = spark.read.parquet(in)
      val w = df.repartition(nFiles).write.mode("overwrite")
      groupBytes.fold(w)(w.option("parquet.block.size", _)).parquet(s"$dst/$n.parquet")
      val rows = spark.read.parquet(s"$dst/$n.parquet").count()
      val orig = spark.read.parquet(in).count()
      require(rows == orig, s"$n: $rows rows after reshard, expected $orig")
      println(s"[mrg] $n: $orig rows -> $nFiles files")
    }
    spark.stop()
  }
}

package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Row-range scan splits read the same rows as Spark's own reader
  * (ScalaCheck generators, fixed seeds).
  *
  * Each case writes parquet files, reads them once with the default split
  * size (each file in one split: Spark's stock reader) and once with
  * `spark.sql.files.maxPartitionBytes` forced small, so row groups larger
  * than a split are read by row range and the others whole, each by the
  * split that holds its midpoint. The rows must be the same multiset,
  * and each split must return the rows of a file in file order. Files are
  * written by Spark (with a page index) and by pyarrow through `python3`,
  * the way the fixtures are (no page index, so the offset index is built
  * from page headers); schemas are random and flat, with nulls,
  * dictionary and plain encodings, v1 and v2 data pages, one to many row
  * groups and pages, partition columns, and pushed filters that prune
  * whole row groups. Nested, row-index and non-vectorized reads take
  * Spark's reader on every split and must give the same rows too. */
class RowSliceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed + i)))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def scratch(tag: String): String =
    Files.createTempDirectory(s"row_slice_$tag").toString

  private def fileSizes(dir: String): Seq[Long] =
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(Files.size).toSeq

  /** Spark's own read, and the read with splits of `split` bytes. */
  private def bothReads(read: => DataFrame, split: Long): (Array[Row], Array[Row]) = {
    val stock = withConf("spark.sql.files.maxPartitionBytes" -> "128MB")(tagged(read).collect())
    val sliced = withConf("spark.sql.files.maxPartitionBytes" -> split.toString)(
      tagged(read).collect())
    (stock, sliced)
  }

  /** Rows with the partition that read them and the file they came from. */
  private def tagged(df: DataFrame): DataFrame =
    df.select(spark_partition_id().as("_pid"), input_file_name().as("_file"), col("*"))

  /** Same multiset of rows (the tags dropped); in each (partition, file)
    * run of the sliced read, `seq` increases. */
  private def assertSameRows(stock: Array[Row], sliced: Array[Row], seqAt: Int): Unit = {
    def rows(a: Array[Row]) = a.map(r => r.toSeq.drop(2).map(String.valueOf).mkString("|")).sorted
    assert(rows(sliced).sameElements(rows(stock)),
      s"sliced read differs: ${sliced.length} rows vs ${stock.length}")
    sliced.groupBy(r => (r.getInt(0), r.getString(1))).values.foreach { run =>
      val seqs = run.map(_.getLong(seqAt + 2))
      assert(seqs.sameElements(seqs.sorted), "a split returned a file's rows out of order")
    }
  }

  /** Tasks that read records, and the records they read, while `body` runs. */
  private def readingTasks(body: => Unit): (Int, Long) = {
    val tasks = new AtomicLong()
    val records = new AtomicLong()
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).map(_.inputMetrics.recordsRead).filter(_ > 0).foreach { n =>
          tasks.incrementAndGet(); records.addAndGet(n)
        }
    }
    org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.sql.graft.Bridge.waitListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    (tasks.get.toInt, records.get)
  }

  test("the slices of a row group over tiling splits cover each row once") {
    val gen = for {
      n <- Gen.choose(0L, 5000000L)
      gs <- Gen.choose(4L, 1L << 40)
      len <- Gen.choose(1L, 1L << 34)
      split <- Gen.oneOf(Gen.choose(1L, 1L << 30), Gen.choose(len / 8 + 1, len * 2))
    } yield (n, gs, gs + len, split)
    samples(gen, 300, 11L).foreach { case (n, gs, ge, split) =>
      val first = gs / split
      val last = (ge - 1) / split
      val slices = (first to last).map(i =>
        RowSlices.slice(n, gs, ge, i * split, (i + 1) * split, split))
      assert(slices.head._1 == 0 && slices.last._2 == n)
      slices.sliding(2).filter(_.size == 2).foreach(p => assert(p(0)._2 == p(1)._1))
      assert(slices.forall { case (a, b) => a <= b })
      // a group no larger than 1.5 splits goes whole to the split holding
      // its midpoint: Spark's own rule
      if ((ge - gs) * 2 < split * 3) {
        val mid = gs + (ge - gs) / 2
        assert(slices.zip(first to last).forall { case ((a, b), i) =>
          (a, b) == (if (i * split <= mid && mid < (i + 1) * split) (0L, n) else (b, b))
        })
      }
    }
    // a group inside one split is that split's whole
    assert(RowSlices.slice(100, 10, 20, 0, 64, 64) == (0, 100))
    // a group of 2.7 splits is cut in 3 equal parts, one per split it covers
    val parts = (0 until 4).map(i => RowSlices.slice(600, 0, 2700, i * 1000, (i + 1) * 1000, 1000))
    assert(parts == Seq((0, 200), (200, 400), (400, 600), (600, 600)))
    // one that just straddles a boundary is not cut
    assert(RowSlices.slice(600, 0, 1100, 0, 1000, 1000) == (0, 600))
    assert(RowSlices.slice(600, 0, 1100, 1000, 2000, 1000) == (600, 600))
  }

  // flat column kinds: a type and a generator of its values
  private val kinds: Seq[(DataType, Gen[Any])] = Seq(
    IntegerType -> Gen.choose(-50, 50),
    LongType -> Gen.choose(Long.MinValue, Long.MaxValue),
    DoubleType -> Gen.choose(-1e6, 1e6),
    StringType -> Gen.oneOf("a", "bb", "ccc", "dddd", "e e"),
    StringType -> Gen.alphaNumStr.map(_.take(12)),
    DecimalType(12, 2) ->
      Gen.choose(-99999999L, 99999999L).map(v => java.math.BigDecimal.valueOf(v, 2)),
    DateType -> Gen.choose(0, 20000).map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))),
    BooleanType -> Gen.oneOf(true, false))

  private final case class Case(cols: Seq[(DataType, Gen[Any])], nullPct: Int, rows: Int, dictionary: Boolean,
                                pageRows: Int, groupBytes: Int, partitioned: Boolean)
  private val caseGen: Gen[Case] = for {
    k <- Gen.choose(1, 6)
    cols <- Gen.listOfN(k, Gen.oneOf(kinds))
    nullPct <- Gen.oneOf(0, 10, 60)
    rows <- Gen.choose(500, 6000)
    dictionary <- Gen.oneOf(true, false)
    pageRows <- Gen.oneOf(50, 300, 20000)
    groupBytes <- Gen.oneOf(8 * 1024, 64 * 1024, 128 * 1024 * 1024)
    partitioned <- Gen.oneOf(true, false)
  } yield Case(cols, nullPct, rows, dictionary, pageRows, groupBytes, partitioned)

  private def rowsOf(c: Case, seed: Long): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    (0 until c.rows).map { i =>
      val vals = c.cols.map { case (_, value) =>
        if (rnd.nextInt(100) < c.nullPct) null
        else value.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(rnd.nextLong())).orNull
      }
      Row.fromSeq(Seq[Any](i.toLong, i % 3) ++ vals)
    }
  }

  test("Spark-written files (page index): random flat schemas read alike, sliced and whole") {
    samples(caseGen, 10, 101L).zipWithIndex.foreach { case (c, n) =>
      val schema = StructType(StructField("seq", LongType, nullable = false) +:
        StructField("p", IntegerType) +: c.cols.zipWithIndex.map { case ((t, _), i) => StructField(s"c$i", t) })
      val dir = scratch(s"spark$n")
      val w = spark.createDataFrame(rowsOf(c, n).asJava, schema).coalesce(1).write
        .option("parquet.block.size", c.groupBytes.toString)
        .option("parquet.page.row.count.limit", c.pageRows.toString)
        .option("parquet.enable.dictionary", c.dictionary.toString)
      (if (c.partitioned) w.partitionBy("p") else w).mode("overwrite").parquet(dir)
      val split = math.max(512L, fileSizes(dir).max / 5)
      val (stock, sliced) = bothReads(spark.read.parquet(dir), split)
      assert(stock.length == c.rows)
      assertSameRows(stock, sliced, 0)
      // pushed filters that drop whole row groups (seq is sorted in the file)
      val lo = c.rows / 3
      val (fs, fl) = bothReads(spark.read.parquet(dir).where(s"seq >= $lo AND seq < ${lo * 2}"), split)
      assert(fs.length == lo)
      assertSameRows(fs, fl, 0)
    }
  }

  private lazy val pyarrow: Boolean =
    try new ProcessBuilder("python3", "-c", "import pyarrow.parquet")
      .redirectErrorStream(true).start().waitFor() == 0
    catch { case _: Exception => false }

  /** Parquet files written by pyarrow (no page index) into `dir`. */
  private def pyarrowFiles(dir: String, seed: Int, files: Int): Unit = {
    val script = Files.createTempFile("row_slice", ".py")
    Files.writeString(script,
      """import sys, numpy as np, pyarrow as pa, pyarrow.parquet as pq
        |out, seed, files = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
        |rng = np.random.default_rng(seed)
        |for f in range(files):
        |    n = int(rng.integers(300, 8000))
        |    def nulls(a, pct):
        |        m = rng.random(n) < pct
        |        return pa.array([None if x else v for v, x in zip(a.tolist(), m)])
        |    pct = float(rng.choice([0.0, 0.1, 0.5]))
        |    t = pa.table({
        |        "seq": pa.array(np.arange(n, dtype=np.int64)),
        |        "i": nulls(rng.integers(-1000, 1000, n).astype(np.int32), pct),
        |        "d": nulls(rng.random(n) * 1e4, pct),
        |        "s": nulls(rng.choice(["x", "yy", "zzz", "w w"], n), pct),
        |        "u": nulls(np.array([f"u{v}" for v in rng.integers(0, 10**9, n)]), pct),
        |        "dt": pa.array(rng.integers(0, 20000, n).astype("datetime64[D]")),
        |    })
        |    pq.write_table(t, f"{out}/part-{f}.parquet",
        |        row_group_size=int(rng.choice([n, n // 3 + 1, 700])),
        |        data_page_size=int(rng.choice([512, 4096, 1 << 20])),
        |        use_dictionary=bool(rng.integers(0, 2)),
        |        data_page_version=str(rng.choice(["1.0", "2.0"])),
        |        compression=str(rng.choice(["snappy", "none", "zstd"])))
        |""".stripMargin)
    val p = new ProcessBuilder("python3", script.toString, dir, seed.toString, files.toString)
      .redirectErrorStream(true).start()
    assert(p.waitFor(120, TimeUnit.SECONDS), "pyarrow writer timed out")
    val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    assert(p.exitValue() == 0, out)
  }

  test("pyarrow-written files (no page index): offset indexes built from page headers") {
    assume(pyarrow, "python3 with pyarrow not available")
    (0 until 6).foreach { seed =>
      val dir = scratch(s"pyarrow$seed")
      pyarrowFiles(dir, 300 + seed, 1 + seed % 3)
      val split = math.max(512L, fileSizes(dir).max / (3 + seed))
      val (stock, sliced) = bothReads(spark.read.parquet(dir), split)
      assertSameRows(stock, sliced, 0)
      val (fs, fl) = bothReads(spark.read.parquet(dir).where("seq >= 400 AND seq < 900"), split)
      assertSameRows(fs, fl, 0)
      // no column at all: row counts come from the slices alone
      val counts = Seq("128MB", split.toString).map(s =>
        withConf("spark.sql.files.maxPartitionBytes" -> s)(spark.read.parquet(dir).count()))
      assert(counts.distinct.size == 1)
    }
    assert(RowSlices.cachedIndexes > 0)
  }

  test("nested, row-index and non-vectorized reads fall back to Spark's reader on every split") {
    val dir = scratch("fallback")
    spark.range(0, 20000).select(col("id").as("seq"), (col("id") % 7).as("k"),
        array(col("id"), col("id") + 1).as("xs"), map(col("id") % 5, col("id")).as("m"),
        struct(col("id").as("a"), concat(lit("v"), col("id")).as("b")).as("st"))
      .coalesce(1).write.option("parquet.block.size", (32 * 1024).toString)
      .mode("overwrite").parquet(dir)
    val split = fileSizes(dir).max / 4
    val reads: Seq[(String, () => DataFrame, Seq[(String, String)])] = Seq(
      ("nested", () => spark.read.parquet(dir), Nil),
      ("row index", () => spark.read.parquet(dir).select(col("seq"), col("_metadata.row_index")), Nil),
      ("non-vectorized", () => spark.read.parquet(dir).select("seq", "k", "st"),
        Seq("spark.sql.parquet.enableVectorizedReader" -> "false")),
      ("flat struct", () => spark.read.parquet(dir).select("seq", "st"), Nil))
    reads.foreach { case (what, df, confs) =>
      withConf(confs: _*) {
        val (stock, sliced) = bothReads(df(), split)
        assert(stock.length == 20000, what)
        assertSameRows(stock, sliced, 0)
      }
    }
  }

  test("pushed filters skip the same pages sliced as whole (column indexes)") {
    val dir = scratch("pages")
    spark.range(0, 200000).select(col("id").as("seq"), (col("id") * 7 % 1000).as("v"))
      .coalesce(1).write.option("parquet.block.size", (1024 * 1024).toString)
      .option("parquet.page.row.count.limit", "1000").mode("overwrite").parquet(dir)
    val split = fileSizes(dir).max / 5
    def read(bytes: String) = withConf("spark.sql.files.maxPartitionBytes" -> bytes) {
      readingTasks(spark.read.parquet(dir).where("seq >= 50000 AND seq < 60000")
        .agg(sum("v")).collect())
    }
    val (_, whole) = read("128MB")
    val (tasks, sliced) = read(split.toString)
    assert(whole < 20000, s"Spark's reader read $whole rows; its pages were not skipped")
    assert(sliced == whole, s"sliced reads took $sliced rows, Spark's reader $whole")
    assert(tasks >= 1)
  }

  test("a one-row-group file spanning k >= 3 byte splits is read by k tasks") {
    assume(pyarrow, "python3 with pyarrow not available")
    val dir = scratch("pin")
    val script = Files.createTempFile("row_slice_pin", ".py")
    Files.writeString(script,
      """import sys, numpy as np, pyarrow as pa, pyarrow.parquet as pq
        |rng = np.random.default_rng(5)
        |n = 200000
        |pq.write_table(pa.table({"seq": np.arange(n, dtype=np.int64),
        |    "v": rng.random(n), "k": rng.integers(0, 50, n)}), sys.argv[1] + "/one.parquet",
        |    row_group_size=n)
        |""".stripMargin)
    assert(new ProcessBuilder("python3", script.toString, dir).start().waitFor() == 0)
    val file = s"$dir/one.parquet"
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(new Path(file), spark.sparkContext.hadoopConfiguration),
      ParquetMetadataConverter.NO_FILTER)
    assert(footer.getBlocks.size == 1)
    val group = footer.getBlocks.get(0)
    val (gs, ge) = (group.getStartingPos, group.getStartingPos + group.getCompressedSize)
    val split = (ge - gs) / 4
    val size = Files.size(java.nio.file.Paths.get(file))
    val k = (0L until size by split).count { s =>
      val (a, b) = RowSlices.slice(group.getRowCount, gs, ge, s, s + split, split)
      b > a
    }
    assert(k >= 3)
    val (tasks, records) = withConf("spark.sql.files.maxPartitionBytes" -> split.toString) {
      readingTasks(spark.read.parquet(file).agg(sum("v"), count("*")).collect())
    }
    assert(tasks == k, s"$tasks tasks read rows; $k byte splits overlap the row group")
    assert(records == group.getRowCount)
  }
}

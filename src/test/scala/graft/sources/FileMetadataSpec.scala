package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}

/** The file metadata cache for path-qualified tables: a warm resolution
  * (cached schema, no inference) must build the same relation as a cold
  * one and as Spark's own `spark.read` resolution; any listing, option or
  * conf change re-infers; Spark's errors stay Spark's. */
class FileMetadataSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    graft.catalog.InfoSchema.register(s)
    s
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** The one file relation of an analyzed statement. */
  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation
    }.collect { case h: HadoopFsRelation => h } match {
      case Seq(h) => h
      case other => fail(s"expected one file relation, got $other")
    }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Spark jobs started while `body` runs (listener bus drained). */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    Bridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; Bridge.waitListenerBus(spark); n.get } finally spark.sparkContext.removeSparkListener(l)
  }

  private def typed(dir: String): Unit =
    spark.sql("""SELECT id, CAST(id * 1.5 AS DECIMAL(10,2)) AS amt,
                |  concat('n', CAST(id AS STRING)) AS name,
                |  DATE '2024-01-01' + CAST(id AS INT) AS day,
                |  array(id, id + 1) AS xs, named_struct('a', id, 'b', 'x') AS st
                |FROM range(20)""".stripMargin).coalesce(2).write.parquet(dir)

  /** One case of the format matrix: SQL text, the `spark.read` twin. */
  private final case class Case(sql: String, read: () => DataFrame)

  private lazy val cases: Map[String, Case] = {
    val pq = tmp("fm_parquet") + "/t"; typed(pq)
    val orc = tmp("fm_orc") + "/t"
    spark.read.parquet(pq).drop("xs", "st").write.orc(orc)
    val json = tmp("fm_json") + "/t"
    spark.read.parquet(pq).write.json(json)
    val csv = tmp("fm_csv")
    Files.write(Paths.get(csv, "a.csv"), "id,name,score\n1,alpha,2.5\n2,beta,\n3,,4\n".getBytes)
    val part = tmp("fm_part") + "/t"
    spark.sql("SELECT id, id % 3 AS p, concat('v', CAST(id AS STRING)) AS v FROM range(30)")
      .write.partitionBy("p").parquet(part)
    Map(
      "parquet" -> Case(s"SELECT * FROM parquet.`$pq`", () => spark.read.parquet(pq)),
      "orc" -> Case(s"SELECT * FROM orc.`$orc`", () => spark.read.orc(orc)),
      "json" -> Case(s"SELECT * FROM json.`$json`", () => spark.read.json(json)),
      "csv" -> Case(s"SELECT * FROM csv.`$csv` WITH ('header' = 'true', 'inferSchema' = 'true')",
        () => spark.read.option("header", "true").option("inferSchema", "true").csv(csv)),
      "hive-partitioned parquet" -> Case(s"SELECT * FROM parquet.`$part`",
        () => spark.read.parquet(part)))
  }

  for (name <- Seq("parquet", "orc", "json", "csv", "hive-partitioned parquet"))
  test(s"$name: a cached resolution equals a cold one and Spark's own") {
    val c = cases(name)
    FileMetadata.clearAll()
    val cold = spark.sql(c.sql)
    val coldRel = relationOf(cold)
    assert(FileMetadata.stats == (1, 0L, 1L), s"$name: first resolution infers")
    var warm: DataFrame = null
    assert(jobsDuring { warm = spark.sql(c.sql); warm.queryExecution.analyzed } == 0,
      s"$name: re-analysis over an unchanged listing starts no Spark job")
    assert(FileMetadata.stats == (1, 1L, 1L), s"$name: second resolution is warm")
    val warmRel = relationOf(warm)
    val own = c.read()
    val ownRel = relationOf(own)
    for ((label, r) <- Seq("cold" -> coldRel, "warm" -> warmRel)) {
      assert(r.dataSchema == ownRel.dataSchema, s"$name $label data schema")
      assert(r.partitionSchema == ownRel.partitionSchema, s"$name $label partition schema")
      assert(r.schema == ownRel.schema, s"$name $label schema")
      // spark.read passes its path as an option too; the SQL path does not
      assert(r.options == ownRel.options - "path", s"$name $label options")
      assert(r.fileFormat.getClass == ownRel.fileFormat.getClass, s"$name $label format")
    }
    assert(warm.schema == own.schema && cold.schema == own.schema,
      s"$name: analyzed schema (nullability and metadata included)")
    assert(rows(warm) == rows(own) && rows(cold) == rows(own), s"$name: rows")
  }

  test("Spark's resolution starts a job per table; a warm re-analysis starts none (load-invariant count)") {
    FileMetadata.clearAll()
    val dir = tmp("fm_jobs") + "/t"; typed(dir)
    val other = tmp("fm_jobs") + "/u"; typed(other)
    assert(jobsDuring(spark.read.parquet(dir)) == 1, "Spark's own resolution: one inference job")
    val q = s"SELECT a.id FROM parquet.`$dir` a JOIN parquet.`$other` b ON a.id = b.id " +
      s"WHERE a.id IN (SELECT id FROM parquet.`$dir`)"
    assert(jobsDuring(spark.sql(q).queryExecution.analyzed) == 2, "cold: one job per table")
    assert(jobsDuring(spark.sql(q).queryExecution.analyzed) == 0, "warm: no job")
    assert(FileMetadata.stats._3 == 2L, "two references of one path share one inference")
    val cte = s"WITH c AS (SELECT * FROM parquet.`$dir`) SELECT count(*) FROM c"
    assert(jobsDuring(spark.sql(cte).queryExecution.analyzed) == 0, "a CTE definition is marked too")
    assert(spark.sql(cte).head().getLong(0) == 20L)
  }

  test("an added, deleted or rewritten file re-infers") {
    FileMetadata.clearAll()
    val dir = tmp("fm_change") + "/t"
    spark.range(10).selectExpr("id").write.parquet(dir)
    val q = s"SELECT * FROM parquet.`$dir`"
    def inferences = FileMetadata.stats._3
    assert(spark.sql(q).count() == 10L && inferences == 1L)
    assert(spark.sql(q).count() == 10L && inferences == 1L, "unchanged listing: warm")
    def dataFiles = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSet
    val before = dataFiles
    spark.range(10, 15).selectExpr("id").coalesce(1).write.mode("append").parquet(dir)
    assert(spark.sql(q).count() == 15L && inferences == 2L, "an added file re-infers")
    (dataFiles -- before).foreach(f => assert(f.delete()))
    assert(spark.sql(q).count() == 10L && inferences == 3L, "a deleted file re-infers")
    spark.range(3).selectExpr("id", "'x' AS extra").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val df = spark.sql(q)
    assert(inferences == 4L, "rewritten files re-infer")
    assert(df.columns.toSeq == Seq("id", "extra") && df.count() == 3L)
    val row = spark.sql(s"SELECT files, hits, inferences FROM sys_file_metadata " +
      s"WHERE path = '$dir'").head()
    assert((row.getInt(0), row.getLong(1), row.getLong(2)) == ((1, 1L, 4L)),
      s"sys_file_metadata shows the re-inferences: $row")
  }

  test("a changed spark.sql.parquet.binaryAsString re-infers") {
    FileMetadata.clearAll()
    // a binary column without a string annotation or Spark's schema in the
    // footer (Spark's own files carry that schema, which the conf ignores)
    val dir = tmp("fm_bin") + "/t"
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required binary b; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet")).withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("b", "abc"))
    finally w.close()
    val q = s"SELECT b FROM parquet.`$dir`"
    assert(spark.sql(q).schema("b").dataType.typeName == "binary")
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      val df = spark.sql(q)
      assert(df.schema("b").dataType.typeName == "string")
      assert(df.head().getString(0) == "abc")
      assert(FileMetadata.stats._3 == 2L)
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert(spark.sql(q).schema("b").dataType.typeName == "binary")
  }

  test("a missing path and VERSION AS OF keep Spark's errors") {
    val missing = tmp("fm_missing") + "/nope"
    val own = intercept[AnalysisException](spark.read.parquet(missing))
    val e = intercept[AnalysisException](spark.sql(s"SELECT * FROM parquet.`$missing`"))
    assert(e.getCondition == own.getCondition && e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    assert(e.getMessageParameters == own.getMessageParameters)
    val dir = tmp("fm_tt") + "/t"
    spark.range(3).write.parquet(dir)
    val tt = intercept[AnalysisException](
      spark.sql(s"SELECT * FROM parquet.`$dir` VERSION AS OF 1").queryExecution.analyzed)
    assert(tt.getCondition == "UNSUPPORTED_FEATURE.TIME_TRAVEL", tt.getMessage)
  }

  test("a bare TABLE over a path stays Spark SQL for positional binding") {
    val dir = tmp("fm_table") + "/t"
    spark.range(4).write.parquet(dir)
    assert(Graft.sql(spark, s"TABLE parquet.`$dir`", Array.empty[Any]).count() == 4L)
    assert(Graft.sql(spark, s"SELECT count(*) FROM parquet.`$dir` WHERE id >= ?",
      Array[Any](2L)).head().getLong(0) == 2L)
  }
}

package graft.sqlext

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.accel.Reflections

class SqlExtSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("CREATE/SHOW/DROP REFLECTION through SQL") {
    Reflections.clear()
    graft.engine.Tables.ensure(spark, TestSpark.sf)
    val dir = Files.createTempDirectory("graft_sqlrefl").toString
    spark.sql(s"CREATE REFLECTION rx USING PATH '$dir/rx' AS " +
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag")
    val shown = spark.sql("SHOW REFLECTIONS").collect()
    assert(shown.map(_.getString(0)).contains("rx"))
    // REFRESH re-materializes from the stored defining SQL
    spark.sql("REFRESH REFLECTION rx")
    assert(spark.sql("SHOW REFLECTIONS").collect().map(_.getString(0)).contains("rx"))
    // API-created reflections carry no SQL and must say so
    Reflections.create("r_api", spark.sql("SELECT 1 AS one"), s"$dir/r_api")
    val err = intercept[Exception](spark.sql("REFRESH REFLECTION r_api"))
    assert(err.getMessage.contains("API"))
    Reflections.drop("r_api")
    spark.sql("DROP REFLECTION rx")
    assert(spark.sql("SHOW REFLECTIONS").collect().isEmpty)
  }

  test("declarative CREATE AGGREGATE REFLECTION: DIMENSIONS/MEASURES DDL serves a roll-up without a user-written SELECT") {
    Reflections.clear()
    graft.engine.Tables.ensure(spark, TestSpark.sf)
    val dir = Files.createTempDirectory("graft_aggrefl").toString
    // reference alter.ftl:434,591 — the BI-admin surface: no defining query,
    // just dimension and measure field lists
    val created = spark.sql(
      s"""ALTER TABLE lineitem CREATE AGGREGATE REFLECTION agg_ddl
          USING PATH '$dir/agg' DIMENSIONS (l_returnflag, l_linestatus)
          MEASURES (l_quantity, l_extendedprice)""").collect()
    assert(created.head.getString(0) == "agg_ddl")
    // a matching roll-up is SERVED from the materialization (no base scan)
    val q = spark.sql(
      """SELECT l_returnflag, sum(l_quantity) AS sq, count(*) AS n
         FROM lineitem GROUP BY l_returnflag""")
    val plan = q.queryExecution.sparkPlan.toString
    assert(plan.contains(dir), s"roll-up not served by the DDL reflection:\n$plan")
    assert(!plan.contains("lineitem.parquet"), "base table still scanned")
    // values match the base-table truth
    val viaRefl = q.collect().map(r =>
      (r.getString(0), String.valueOf(r.get(1)), r.getLong(2))).toSet
    Reflections.clear()
    val truth = spark.sql(
      """SELECT l_returnflag, sum(l_quantity) AS sq, count(*) AS n
         FROM lineitem GROUP BY l_returnflag""").collect().map(r =>
      (r.getString(0), String.valueOf(r.get(1)), r.getLong(2))).toSet
    assert(viaRefl == truth, s"reflection roll-up diverges: $viaRefl vs $truth")
  }

  test("declarative CREATE AGGREGATE REFLECTION refreshes from its generated SQL; RAW DISPLAY variant partitions") {
    Reflections.clear()
    graft.engine.Tables.ensure(spark, TestSpark.sf)
    val dir = Files.createTempDirectory("graft_declrefl").toString
    spark.sql(
      s"""ALTER TABLE orders CREATE AGGREGATE REFLECTION agg_r
          USING PATH '$dir/agg' DIMENSIONS (o_orderstatus)
          MEASURES (o_totalprice)""")
    // the generated defining SQL is stored — REFRESH works like any other
    spark.sql("REFRESH REFLECTION agg_r")
    assert(spark.sql("SHOW REFLECTIONS").collect().map(_.getString(0)).contains("agg_r"))
    // RAW variant with PARTITION BY writes a partitioned materialization
    spark.sql(
      s"""ALTER TABLE orders CREATE RAW REFLECTION raw_r
          USING PATH '$dir/raw' DISPLAY (o_orderkey, o_orderstatus, o_totalprice)
          PARTITION BY (o_orderstatus)""")
    val parts = new java.io.File(s"$dir/raw").listFiles()
      .filter(_.getName.startsWith("o_orderstatus="))
    assert(parts.nonEmpty, "RAW reflection not partitioned by o_orderstatus")
    Reflections.clear()
  }

  test("CREATE EXTERNAL REFLECTION registers user-managed data without rewriting it") {
    Reflections.clear()
    graft.engine.Tables.ensure(spark, TestSpark.sf)
    val dir = Files.createTempDirectory("graft_extrefl").toString
    val defining = "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"

    // an "upstream job" materialized the aggregate itself — with doctored
    // counts, so serving from it is distinguishable from recomputation
    spark.sql(defining).withColumn("n", col("n") * 2)
      .write.parquet(s"$dir/ext")
    spark.sql(s"CREATE EXTERNAL REFLECTION extr USING PATH '$dir/ext' AS $defining")

    val served = spark.sql(defining).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Reflections.drop("extr")
    val direct = spark.sql(defining).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served.keySet == direct.keySet)
    direct.foreach { case (k, n) =>
      assert(served(k) == 2 * n, s"external data not served for $k") }

    // a materialization missing the defining columns is refused
    spark.sql("SELECT l_returnflag AS other_col FROM lineitem LIMIT 1")
      .write.parquet(s"$dir/bad")
    val err = intercept[Exception](spark.sql(
      s"CREATE EXTERNAL REFLECTION bad USING PATH '$dir/bad' AS $defining"))
    assert(err.getMessage.contains("lacks columns"))
    Reflections.clear()
  }

  test("EXPLAIN ACCELERATION reports which reflections serve a query") {
    Reflections.clear()
    graft.engine.Tables.ensure(spark, TestSpark.sf)
    val dir = Files.createTempDirectory("graft_explaccel").toString
    spark.sql(s"CREATE REFLECTION ra USING PATH '$dir/ra' AS " +
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag")
    val served = spark.sql("EXPLAIN ACCELERATION " +
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag")
      .collect().map(r => r.getString(0) -> (r.getString(2), r.getString(3))).toMap
    assert(served("ra") == (("true", "true")), served.toString)
    val unserved = spark.sql(
      "EXPLAIN ACCELERATION SELECT count(*) AS n FROM nation")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(unserved("ra") == "false")
    spark.sql("DROP REFLECTION ra")
    Reflections.clear()
  }

  test("EXPLAIN ACCELERATION refuses to execute commands/DML") {
    val ex = intercept[Exception] {
      spark.sql("EXPLAIN ACCELERATION CREATE QUEUE zz_never SLOTS 1")
    }
    assert(ex.getMessage.toLowerCase.contains("only supports queries"))
    assert(graft.engine.Queues.status.forall(_.name != "zz_never"),
      "EXPLAIN ACCELERATION executed the command it was asked to explain")
  }

  test("CREATE PIPE / TRIGGER PIPE / SHOW PIPES through SQL") {
    val root = Files.createTempDirectory("graft_sqlpipe").toString
    Files.createDirectories(Paths.get(s"$root/in"))
    Files.write(Paths.get(s"$root/in/a.json"),
      """{"id":1,"v":"x"}""".getBytes)
    spark.sql(s"CREATE PIPE psql FROM '$root/in' FORMAT json " +
      s"SCHEMA 'id BIGINT, v STRING' INTO '$root/out' CHECKPOINT '$root/chk'")
    assert(spark.sql("SHOW PIPES").collect().map(_.getString(0)).contains("psql"))
    val res = spark.sql("TRIGGER PIPE psql").collect()
    assert(res.head.getString(1) == "1")
    // second trigger: no new files → zero rows loaded by THIS trigger
    // (per-batch metric from stream progress, not an O(target) recount)
    assert(spark.sql("TRIGGER PIPE psql").collect().head.getString(1) == "0")
  }

  test("CDC pipe by SQL: CREATE PIPE ... MERGE KEY ... INTO LAKE upserts end to end") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cdcpipe").toString
    Files.createDirectories(Paths.get(s"$root/in"))
    // seed lake table: ids 1,2
    val lakeDir = s"$root/lake"
    graft.sources.SnapshotTable.create(spark, lakeDir,
      Seq((1L, "one"), (2L, "two")).toDF("id", "v"))
    // CDC batch 1: update id=2, insert id=3
    Files.write(Paths.get(s"$root/in/b1.json"),
      "{\"id\":2,\"v\":\"TWO\"}\n{\"id\":3,\"v\":\"three\"}".getBytes)
    spark.sql(s"CREATE PIPE pcdc FROM '$root/in' FORMAT json " +
      s"SCHEMA 'id BIGINT, v STRING' MERGE KEY id INTO LAKE '$lakeDir' " +
      s"CHECKPOINT '$root/chk'")
    assert(spark.sql("TRIGGER PIPE pcdc").collect().head.getString(1) == "2")
    val t = graft.sources.SnapshotTable.forPath(spark, lakeDir)
    def state() = t.read().orderBy("id").as[(Long, String)].collect().toSeq
    assert(state() == Seq((1L, "one"), (2L, "TWO"), (3L, "three")))
    // CDC batch 2: update id=1 — second trigger applies only the new file
    Files.write(Paths.get(s"$root/in/b2.json"),
      "{\"id\":1,\"v\":\"ONE\"}".getBytes)
    assert(spark.sql("TRIGGER PIPE pcdc").collect().head.getString(1) == "1")
    assert(state() == Seq((1L, "ONE"), (2L, "TWO"), (3L, "three")))
    // no new files → this trigger applies nothing (exactly-once)
    assert(spark.sql("TRIGGER PIPE pcdc").collect().head.getString(1) == "0")
    assert(state() == Seq((1L, "ONE"), (2L, "TWO"), (3L, "three")))
  }

  test("lake append pipe by SQL: INTO LAKE lands atomic commits") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lakepipe").toString
    Files.createDirectories(Paths.get(s"$root/in"))
    val lakeDir = s"$root/lake"
    graft.sources.SnapshotTable.create(spark, lakeDir,
      Seq((1L, "seed")).toDF("id", "v"))
    Files.write(Paths.get(s"$root/in/a.json"), "{\"id\":2,\"v\":\"x\"}".getBytes)
    spark.sql(s"CREATE PIPE plake FROM '$root/in' FORMAT json " +
      s"SCHEMA 'id BIGINT, v STRING' INTO LAKE '$lakeDir' CHECKPOINT '$root/chk'")
    assert(spark.sql("TRIGGER PIPE plake").collect().head.getString(1) == "1")
    val t = graft.sources.SnapshotTable.forPath(spark, lakeDir)
    assert(t.read().count() == 2)
    assert(t.commits.last.action == "append")
  }

  test("DESCRIBE LAKE + CREATE LAKE VIEW with VERSION AS OF") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqllake").toString
    val t = graft.sources.SnapshotTable.create(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.overwrite(Seq((9L, "z")).toDF("id", "v"))

    val hist = spark.sql(s"DESCRIBE LAKE '$dir'").collect()
    assert(hist.length == 2)
    assert(hist.map(_.getString(1)).toSeq == Seq("overwrite", "overwrite"))

    spark.sql(s"CREATE LAKE VIEW lake_v1 FROM '$dir' VERSION AS OF 1")
    assert(spark.sql("SELECT count(*) FROM lake_v1").head().getLong(0) == 2)
    spark.sql(s"CREATE LAKE VIEW lake_now FROM '$dir'")
    assert(spark.sql("SELECT v FROM lake_now").head().getString(0) == "z")
  }

  test("CREATE LAKE VIEW with TIMESTAMP AS OF travels by time through SQL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqllake_ts").toString
    val t = graft.sources.SnapshotTable.create(spark, dir,
      Seq((1L, "a")).toDF("id", "v"))
    val tsAfterV1 = t.commits.last.timestampMs
    Thread.sleep(5)
    t.overwrite(Seq((9L, "z")).toDF("id", "v"))
    // epoch-millis form pins the first version
    spark.sql(s"CREATE LAKE VIEW lake_ts_v FROM '$dir' TIMESTAMP AS OF '$tsAfterV1'")
    assert(spark.sql("SELECT v FROM lake_ts_v").head().getString(0) == "a")
    // a far-future ISO datetime resolves to the latest version
    spark.sql(s"CREATE LAKE VIEW lake_ts_now FROM '$dir' TIMESTAMP AS OF '2099-01-01'")
    assert(spark.sql("SELECT v FROM lake_ts_now").head().getString(0) == "z")
  }

  test("CREATE LAKE ... PARTITION BY ... AS builds a partitioned table from SQL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqlctas").toString
    spark.range(0, 200)
      .select(col("id"), (col("id") % 50).as("k"))
      .createOrReplaceTempView("ctas_src")
    spark.sql(s"""CREATE LAKE '$dir' PARTITION BY (bucket(4,k)) STATS (id)
                 |AS SELECT id, k FROM ctas_src""".stripMargin)
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    assert(t.latestVersion == 1L)
    assert(t.commits.last.partitionSpec == Seq("bucket(4,k)"))
    assert(t.commits.last.statsCols == Seq("id"))
    assert(t.snapshot()._1.size == 4) // one file per bucket
    assert(t.read().count() == 200)
    // DESCRIBE LAKE surfaces the spec; a second CTAS at the same dir fails
    val desc = spark.sql(s"DESCRIBE LAKE '$dir'").collect()
    assert(desc.head.getString(4) == "bucket(4,k)")
    val err = intercept[Exception] {
      spark.sql(s"CREATE LAKE '$dir' AS SELECT 1 AS x")
    }
    assert(err.getMessage.contains("already has commits"))
  }

  test("INSERT INTO LAKE appends and inherits the table's partition layout") {
    val dir = Files.createTempDirectory("graft_sqlins").toString
    spark.range(0, 100).select(col("id"), (col("id") % 10).as("k"))
      .createOrReplaceTempView("ins_src_a")
    spark.range(100, 160).select(col("id"), (col("id") % 10).as("k"))
      .createOrReplaceTempView("ins_src_b")
    spark.sql(s"""CREATE LAKE '$dir' PARTITION BY (bucket(3,k)) STATS (id)
                 |AS SELECT id, k FROM ins_src_a""".stripMargin)
    val res = spark.sql(s"INSERT INTO LAKE '$dir' SELECT id, k FROM ins_src_b").collect()
    assert(res.head.getString(1) == "3") // files added: one per inherited bucket
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    assert(t.latestVersion == 2L)
    // sticky layout: the append carried the spec + stats forward
    assert(t.commits.last.partitionSpec == Seq("bucket(3,k)"))
    assert(t.commits.last.statsCols == Seq("id"))
    assert(t.read().count() == 160)
    // 3 bucket files per commit
    assert(t.snapshot()._1.size == 6)
    // inherited stats prune: ids 100+ live only in the second commit's files
    assert(t.scanRange("id", 150, 155).inputFiles.length <= 3)
  }

  test("OPTIMIZE LAKE compacts; ORDER BY variant restores pruning stats") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqlopt").toString
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    // 3 unclustered, stat-less appends
    (0 until 3).foreach(i => t.append(
      spark.range(i * 100, (i + 1) * 100).select(col("id"), (col("id") * 2).as("x"))
        .repartition(3).toDF()))
    assert(t.snapshot()._1.size == 9)
    spark.sql(s"OPTIMIZE LAKE '$dir' ORDER BY id INTO 4 FILES")
    val (files, _) = t.snapshot()
    assert(files.size == 4, s"expected 4 files after OPTIMIZE, got ${files.size}")
    // the rewrite recorded min/max on the sort column: a plain SQL WHERE
    // over the view now prunes to a single range-clustered file
    spark.sql(s"CREATE LAKE VIEW lake_opt_v FROM '$dir'")
    val q = spark.sql("SELECT id FROM lake_opt_v WHERE id >= 110 AND id <= 120 ORDER BY id")
    assert(q.collect().map(_.getLong(0)).toSeq == (110L to 120L))
    assert(t.commits.last.statsCols == Seq("id"))
    val pruned = t.scanRange("id", 110, 120)
    assert(pruned.inputFiles.length == 1,
      s"expected 1 file after clustered compaction, got ${pruned.inputFiles.length}")
    // DESCRIBE LAKE reports the (empty) partition spec column
    assert(spark.sql(s"DESCRIBE LAKE '$dir'").columns.contains("partition_spec"))
  }

  test("sticky layout survives a plain layout-less append") {
    val dir = Files.createTempDirectory("graft_sqlsticky").toString
    spark.range(0, 90).select(col("id"), (col("id") % 3).as("k"))
      .createOrReplaceTempView("sticky_src")
    spark.sql(s"""CREATE LAKE '$dir' PARTITION BY (bucket(3,k)) STATS (id)
                 |AS SELECT id, k FROM sticky_src""".stripMargin)
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    // a plain append records no layout — the head commit's spec is empty
    t.append(spark.range(90, 120).select(col("id"), (col("id") % 3).as("k")).toDF())
    assert(t.commits.last.partitionSpec.isEmpty)
    // but the table-level layout must still be in force for later writers
    assert(t.effectiveLayout == (Seq("bucket(3,k)"), Seq("id"), Nil))
    // INSERT INTO LAKE inherits it (not the head commit's empty spec)
    spark.range(120, 150).select(col("id"), (col("id") % 3).as("k"))
      .createOrReplaceTempView("sticky_src_2")
    spark.sql(s"INSERT INTO LAKE '$dir' SELECT id, k FROM sticky_src_2")
    assert(t.commits.last.partitionSpec == Seq("bucket(3,k)"))
    assert(t.commits.last.statsCols == Seq("id"))
    // and copy-on-write DML re-partitions by it too
    spark.sql(s"DELETE FROM LAKE '$dir' WHERE id = 5")
    assert(t.commits.last.partitionSpec == Seq("bucket(3,k)"))
    assert(t.read().count() == 149)
  }

  test("OPTIMIZE ... ORDER BY clusters rows inside each partition's file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqloptpart").toString
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    // partitioned table fed with shuffled row order
    val df = spark.range(0, 300)
      .select(col("id"), (col("id") % 3).as("k"), (lit(299) - col("id")).as("x"))
      .orderBy(org.apache.spark.sql.functions.rand(7)).toDF()
    t.appendPartitioned(df, Seq("identity(k)"))
    spark.sql(s"OPTIMIZE LAKE '$dir' ORDER BY x INTO 3 FILES")
    val (files, _) = t.snapshot()
    assert(files.size == 3, s"one file per k partition, got ${files.size}")
    // the documented contract: rows are sorted by x WITHIN each file, so
    // parquet row-group stats on x are tight (not just per-file ranges)
    files.foreach { f =>
      val xs = spark.read.parquet(f).select("x").as[Long].collect().toSeq
      assert(xs == xs.sorted, s"rows in $f not clustered by x")
    }
    assert(t.read().count() == 300)
  }

  test("DELETE FROM LAKE and UPDATE LAKE run copy-on-write DML through SQL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqldml").toString
    graft.sources.SnapshotTable.create(spark, dir,
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x"))

    spark.sql(s"DELETE FROM LAKE '$dir' WHERE id = 2")
    // SET value with a nested function call exercises top-level comma split
    spark.sql(s"UPDATE LAKE '$dir' SET x = greatest(x, 25.0) WHERE id >= 1")
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    assert(t.read().orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 25.0), (3L, 30.0)))
    // every DML step is a distinct commit; v1 still time-travels
    assert(t.latestVersion == 3L)
    assert(t.asOf(1L).count() == 3)
  }

  test("UPDATE LAKE: 'where' inside a SET string literal is not the WHERE split") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqldml2").toString
    graft.sources.SnapshotTable.create(spark, dir,
      Seq((1L, "old"), (2L, "keep")).toDF("id", "note"))
    spark.sql(s"UPDATE LAKE '$dir' SET note = 'fix where broken' WHERE id = 1")
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "fix where broken"), (2L, "keep")))
    // escaped quote + comma inside the literal survives the SET split
    spark.sql(s"UPDATE LAKE '$dir' SET note = 'it\\'s big, ok' WHERE id = 2")
    assert(t.read().filter(org.apache.spark.sql.functions.col("id") === 2)
      .as[(Long, String)].head()._2 == "it's big, ok")
  }

  test("MERGE INTO LAKE ... KEY ... USING upserts through SQL text") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqlmerge").toString
    graft.sources.SnapshotTable.create(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    Seq((2L, "B"), (4L, "d")).toDF("id", "v").createOrReplaceTempView("merge_delta")
    val res = spark.sql(s"MERGE INTO LAKE '$dir' KEY id USING SELECT * FROM merge_delta")
    assert(res.head().getString(0) == "2") // one new commit after create
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
    // pre-merge snapshot still time-travels
    assert(t.asOf(1L).count() == 3)
  }

  test("MERGE INTO LAKE ON ... with ANSI WHEN clauses through SQL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqlansimerge").toString
    graft.sources.SnapshotTable.create(spark, dir,
      (1L to 10L).map(i => (i, i.toDouble, "keep")).toDF("id", "bal", "note"))
    Seq((2L, -5.0, "x"), (3L, 7.0, "upd"), (11L, 11.0, "new"))
      .toDF("id", "bal", "note").createOrReplaceTempView("ansi_merge_src")
    spark.sql(
      s"""MERGE INTO LAKE '$dir' ON id USING (SELECT * FROM ansi_merge_src)
         |WHEN MATCHED AND s.bal < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET bal = t.bal + s.bal, note = s.note
         |WHEN NOT MATCHED THEN INSERT""".stripMargin)
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    val got = t.read().orderBy("id").as[(Long, Double, String)].collect().toSeq
    assert(!got.exists(_._1 == 2L), "matched+negative row should be deleted")
    assert(got.find(_._1 == 3L).contains((3L, 10.0, "upd")))
    assert(got.find(_._1 == 11L).contains((11L, 11.0, "new")))
    assert(got.find(_._1 == 4L).contains((4L, 4.0, "keep")))
    // a string literal containing ')' or 'WHEN MATCHED' must not derail
    // the paren/clause scanners
    spark.sql(
      s"""MERGE INTO LAKE '$dir' ON id
         |USING (SELECT id, bal, ') WHEN MATCHED ' AS note FROM ansi_merge_src WHERE id = 3)
         |WHEN MATCHED THEN UPDATE SET note = s.note""".stripMargin)
    assert(t.read().filter($"id" === 3L).head().getString(2) == ") WHEN MATCHED ")
  }

  test("CREATE LAKE CHANGES VIEW exposes row-level CDC through SQL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqlcdc").toString
    val t = graft.sources.SnapshotTable.create(spark, dir,
      (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "v"))
    spark.sql(s"DELETE FROM LAKE '$dir' WHERE id <= 3")
    spark.sql(s"CREATE LAKE CHANGES VIEW cdc_v FROM '$dir' BETWEEN 1 AND 2")
    val rows = spark.sql(
      "SELECT id, v, _change_type FROM cdc_v ORDER BY id")
      .as[(Long, Double, String)].collect().toSeq
    assert(rows == Seq((1L, 2.0, "delete"), (2L, 4.0, "delete"), (3L, 6.0, "delete")))
  }

  test("BRANCH/TAG DDL and AT BRANCH reads/writes through SQL (WAP)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqlwap").toString
    graft.sources.SnapshotTable.create(spark, dir,
      (1L to 50L).map(i => (i, "base")).toDF("id", "src"))
    spark.sql(s"CREATE BRANCH etl FROM LAKE '$dir'")
    spark.sql(s"CREATE TAG v1 FROM LAKE '$dir' VERSION AS OF 1")
    val refs = spark.sql(s"SHOW REFS FROM LAKE '$dir'").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(refs == Set(("etl", "branch"), ("v1", "tag")))
    // staged write lands on the branch only
    Seq((51L, "staged")).toDF("id", "src").createOrReplaceTempView("wap_src")
    spark.sql(s"INSERT INTO LAKE '$dir' AT BRANCH etl SELECT id, src FROM wap_src")
    spark.sql(s"CREATE LAKE VIEW wap_branch_v FROM '$dir' AT BRANCH etl")
    spark.sql(s"CREATE LAKE VIEW wap_main_v FROM '$dir'")
    assert(spark.sql("SELECT count(*) FROM wap_branch_v").head().getLong(0) == 51L)
    assert(spark.sql("SELECT count(*) FROM wap_main_v").head().getLong(0) == 50L)
    // publish, then main serves the merged state
    spark.sql(s"MERGE BRANCH etl INTO LAKE '$dir'")
    spark.sql(s"CREATE LAKE VIEW wap_merged_v FROM '$dir'")
    assert(spark.sql("SELECT count(*) FROM wap_merged_v").head().getLong(0) == 51L)
    // the tag still reads the pre-merge state; DROP removes it
    spark.sql(s"CREATE LAKE VIEW wap_tag_v FROM '$dir' AT TAG v1")
    assert(spark.sql("SELECT count(*) FROM wap_tag_v").head().getLong(0) == 50L)
    spark.sql(s"DROP TAG v1 FROM LAKE '$dir'")
    assert(spark.sql(s"SHOW REFS FROM LAKE '$dir'").collect().isEmpty)
  }

  test("ALTER LAKE ADD/DROP COLUMN and ROLLBACK TO VERSION through SQL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqlddl").toString
    val t = graft.sources.SnapshotTable.create(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // ADD COLUMN: metadata-only; old files read NULL; new appends fill it
    spark.sql(s"ALTER LAKE '$dir' ADD COLUMN score DOUBLE")
    assert(t.read().schema.fieldNames.toSeq == Seq("id", "v", "score"))
    assert(t.read().filter($"score".isNull).count() == 2L)
    t.append(Seq((3L, "c", 0.5)).toDF("id", "v", "score"))
    assert(t.read().filter($"score".isNotNull).count() == 1L)
    // DROP COLUMN: gone from the current schema, visible via time travel
    spark.sql(s"ALTER LAKE '$dir' DROP COLUMN v")
    assert(t.read().schema.fieldNames.toSeq == Seq("id", "score"))
    assert(t.asOf(1L).schema.fieldNames.toSeq == Seq("id", "v"))
    // re-adding the dropped name must NOT resurface the old data
    spark.sql(s"ALTER LAKE '$dir' ADD COLUMN v STRING")
    assert(t.read().filter($"v".isNotNull).count() == 0L,
      "retired column data must not resurface under a re-added name")
    // ROLLBACK restores v1's file set as a new commit, history intact
    val before = t.latestVersion
    spark.sql(s"ROLLBACK LAKE '$dir' TO VERSION 1")
    assert(t.latestVersion == before + 1)
    assert(t.read().orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    assert(t.asOf(before).schema.fieldNames.toSeq == Seq("id", "score", "v"))
  }

  test("ALTER LAKE ... RENAME COLUMN through SQL keeps history readable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sqlrename").toString
    graft.sources.SnapshotTable.create(spark, dir,
      Seq((1L, "alpha")).toDF("id", "v"))
    spark.sql(s"ALTER LAKE '$dir' RENAME COLUMN v TO label")
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    assert(t.read().schema.fieldNames.toSeq == Seq("id", "label"))
    assert(t.read().as[(Long, String)].head() == ((1L, "alpha")))
  }

  test("COPY INTO through SQL loads good rows and reports counts") {
    val root = Files.createTempDirectory("graft_sqlcopy").toString
    Files.write(Paths.get(s"$root/in.csv"),
      "id,name\n1,alpha\nbad_row_no_number,beta\n3,gamma".getBytes)
    val res = spark.sql(s"COPY INTO '$root/tbl' FROM '$root/in.csv' FORMAT csv " +
      "SCHEMA 'id BIGINT, name STRING' ON_ERROR CONTINUE").collect()
    assert(res.head.getString(0) == "2" && res.head.getString(1) == "1")
    assert(spark.read.parquet(s"$root/tbl").count() == 2)
    // ABORT mode surfaces the failure through the SQL surface too
    intercept[Exception] {
      spark.sql(s"COPY INTO '$root/tbl2' FROM '$root/in.csv' FORMAT csv " +
        "SCHEMA 'id BIGINT, name STRING' ON_ERROR ABORT").collect()
    }
  }

  test("ALTER TABLE ... REFRESH METADATA parses and runs") {
    graft.engine.Tables.ensure(spark, TestSpark.sf)
    spark.sql("ALTER TABLE lineitem REFRESH METADATA")
  }

  test("unknown statements fall through to Spark's parser") {
    assert(spark.sql("SELECT 1 + 1").head().getInt(0) == 2)
    intercept[Exception] { spark.sql("CREATE GIBBERISH q") }
  }

  test("QUALIFY filters on window expressions, references aliases, keeps ORDER BY/LIMIT") {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "a", 30.0), (3L, "a", 20.0),
        (4L, "b", 5.0), (5L, "b", 50.0)).toDF("id", "grp", "v")
      .createOrReplaceTempView("q_t")
    // top-2 per group via QUALIFY on a select-list alias
    val top2 = spark.sql(
      """SELECT id, grp, row_number() OVER (PARTITION BY grp ORDER BY v DESC) AS rk
        |FROM q_t QUALIFY rk <= 2 ORDER BY grp, rk""".stripMargin)
    assert(top2.columns.toSeq == Seq("id", "grp", "rk"), "helper column leaked")
    assert(top2.as[(Long, String, Int)].collect().toSeq ==
      Seq((2L, "a", 1), (3L, "a", 2), (5L, "b", 1), (4L, "b", 2)))
    // window expression directly in the predicate + LIMIT trailer
    val first = spark.sql(
      """SELECT id, grp FROM q_t
        |QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v DESC) = 1
        |ORDER BY grp LIMIT 1""".stripMargin)
    assert(first.as[(Long, String)].collect().toSeq == Seq((2L, "a")))
    // QUALIFY after GROUP BY: windows evaluate over the aggregated rows
    val aggQ = spark.sql(
      """SELECT grp, sum(v) AS sv FROM q_t GROUP BY grp
        |QUALIFY rank() OVER (ORDER BY sum(v) DESC) = 1""".stripMargin)
    assert(aggQ.as[(String, Double)].collect().toSeq == Seq(("a", 60.0)))
    // a QUALIFY inside a nested subquery is untouched by the top-level
    // rewrite (it rewrites when the subquery itself parses — here it
    // never reaches our parser, so Spark must reject it: proves the
    // top-level scan does NOT fire on depth>0 occurrences)
    val literalQ = spark.sql("SELECT 'QUALIFY rk = 1' AS s").head().getString(0)
    assert(literalQ == "QUALIFY rk = 1", "QUALIFY inside a string literal was rewritten")
  }

  test("ADD/DROP PRIMARY KEY: informational metadata, validated, versioned, shown") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pk").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir' AS SELECT id, CAST(id % 3 AS INT) AS grp, " +
      "CONCAT('n', id) AS nm FROM range(30)")
    spark.sql(s"ALTER LAKE '$dir' ADD PRIMARY KEY (id, grp)")
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    assert(t.primaryKey == Seq("id", "grp"))
    assert(spark.sql(s"SHOW CREATE LAKE '$dir'").head().getString(4) == "id,grp")
    // unknown column refuses loudly
    val ex = intercept[Exception](
      spark.sql(s"ALTER LAKE '$dir' ADD PRIMARY KEY (nope)"))
    assert(ex.getMessage.contains("not in schema"), ex.getMessage)
    // informational by contract: duplicate key values still ingest
    spark.sql(s"INSERT INTO LAKE '$dir' SELECT id, CAST(id % 3 AS INT), " +
      "CONCAT('d', id) FROM range(30)")
    assert(t.read().count() == 60L, "PK is metadata, never enforcement")
    // time travel predates the declaration; DROP clears it
    assert(!t.log(None).find(_.version == 1L).exists(_.tableProps.exists(_.contains(
      graft.sources.SnapshotTable.PkPropKey))))
    spark.sql(s"ALTER LAKE '$dir' DROP PRIMARY KEY")
    assert(t.primaryKey.isEmpty)
  }

  test("SHOW CREATE LAKE reports column DDL, sticky layout, head version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_showcreate").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir' PARTITION BY (identity(grp)) STATS (id) AS " +
      "SELECT id, CAST(id % 3 AS INT) AS grp FROM range(30)")
    spark.sql(s"INSERT INTO LAKE '$dir' SELECT id, CAST(id % 3 AS INT) AS grp FROM range(30, 40)")
    val r = spark.sql(s"SHOW CREATE LAKE '$dir'").head()
    assert(r.getString(0).toLowerCase.contains("id") &&
      r.getString(0).toLowerCase.contains("grp"), s"column ddl: ${r.getString(0)}")
    assert(r.getString(1) == "identity(grp)", s"partition spec: ${r.getString(1)}")
    assert(r.getString(2) == "id", s"stats cols: ${r.getString(2)}")
    assert(r.getString(3) == "", s"sort by: ${r.getString(3)}")
    assert(r.getString(4) == "", s"primary key: ${r.getString(4)}")
    assert(r.getString(5) == "2", s"head version: ${r.getString(5)}")
    // schema evolution reflects in the reported DDL
    spark.sql(s"ALTER LAKE '$dir' ADD COLUMN note STRING")
    val r2 = spark.sql(s"SHOW CREATE LAKE '$dir'").head()
    assert(r2.getString(0).toLowerCase.contains("note"), s"evolved ddl: ${r2.getString(0)}")
    assert(r2.getString(5) == "3")
    // SHOW CREATE ... AT: a TAG pinned before the evolution reports the
    // OLD definition while main reports the new one (reference
    // SqlShowCreate's version context)
    spark.sql(s"CREATE TAG sc_pin FROM LAKE '$dir' VERSION AS OF 2")
    val r3 = spark.sql(s"SHOW CREATE LAKE '$dir' AT TAG sc_pin").head()
    assert(!r3.getString(0).toLowerCase.contains("note"),
      s"tag-pinned ddl must predate the evolution: ${r3.getString(0)}")
    assert(r3.getString(5) == "2", r3.getString(5))
    assert(r3.getString(1) == "identity(grp)", r3.getString(1))
  }

  test("VACUUM LAKE through SQL expires history and deletes unreferenced files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vacuum_sql").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir' AS SELECT id FROM range(50)")
    spark.sql(s"INSERT INTO LAKE '$dir' SELECT id FROM range(50, 80)")
    // full overwrite makes version-1/2 files unreferenced by the head
    graft.sources.SnapshotTable.forPath(spark, dir)
      .overwrite(spark.range(200, 210).toDF("id"))
    val deleted = spark.sql(s"VACUUM LAKE '$dir' RETAIN 1 VERSIONS GRACE 0")
      .head().getString(0).toInt
    assert(deleted > 0, "no unreferenced files deleted")
    // current snapshot reads fine; expired time travel fails on the
    // deleted files (sum() — a bare count would be answered from the
    // manifest without ever touching data files)
    assert(spark.sql(s"SELECT count(*) FROM lake_scan('$dir')").head().getLong(0) == 10L)
    assert(spark.sql(s"SELECT sum(id) FROM lake_scan('$dir')").head().getLong(0) ==
      (200L until 210L).sum)
    val ex = intercept[Exception] {
      spark.sql(s"SELECT sum(id) FROM lake_scan('$dir', 1)").collect()
    }
    assert(ex != null)
  }

  test("ALTER LAKE SET PARTITION SPEC: future writes evolve, old files keep pruning") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case s: QueryStageExec => findScans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(findScans)
    }
    val dir = Files.createTempDirectory("graft_specevo").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir' PARTITION BY (identity(grp)) AS " +
      "SELECT id, CAST(id % 3 AS INT) AS grp FROM range(90)")
    // evolve: future writes bucket on id instead
    spark.sql(s"ALTER LAKE '$dir' SET PARTITION SPEC (bucket(4, id))")
    val shown = spark.sql(s"SHOW CREATE LAKE '$dir'").head()
    assert(shown.getString(1) == "bucket(4,id)", shown.getString(1))
    spark.sql(s"INSERT INTO LAKE '$dir' SELECT id, 9 AS grp FROM range(1000, 1090)")
    // everything reads; both eras present
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    assert(t.read().count() == 180)
    // an OLD-era partition predicate still prunes the old files (per-file
    // transform ranges survive the evolution)
    val q = t.read().filter(col("grp") === 1)
    assert(q.count() == 30)
    val opened = findScans(q.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    val all = t.read().inputFiles.length
    assert(opened < all, s"grp=1 must prune old-era files: $opened of $all")
    // a NEW-era bucket predicate prunes the new files
    val q2 = t.read().filter(col("id") === 1001L)
    assert(q2.count() == 1)
    // empty spec drops partitioning for future writes
    spark.sql(s"ALTER LAKE '$dir' SET PARTITION SPEC ()")
    assert(t.effectiveLayout._1.isEmpty, t.effectiveLayout.toString)
    spark.sql(s"INSERT INTO LAKE '$dir' SELECT id, 0 AS grp FROM range(5000, 5010)")
    assert(t.read().count() == 190)
    // unknown column refused before any commit
    val bad = intercept[Exception](spark.sql(
      s"ALTER LAKE '$dir' SET PARTITION SPEC (identity(nope))"))
    assert(bad.getMessage.contains("unknown column"), bad.getMessage.take(200))
  }

  test("ALTER LAKE SET SORT ORDER: future writes sort, SHOW CREATE reports it") {
    val dir = Files.createTempDirectory("graft_sortevo").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir' AS SELECT id, id % 7 AS k FROM range(100)")
    spark.sql(s"ALTER LAKE '$dir' SET SORT ORDER (k)")
    assert(spark.sql(s"SHOW CREATE LAKE '$dir'").head().getString(3) == "k")
    // a write after the evolution lands sorted by k within each file
    spark.sql(s"INSERT INTO LAKE '$dir' SELECT id, id % 5 AS k FROM range(200, 260)")
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    val newFiles = t.commits.last.files
    assert(newFiles.nonEmpty)
    newFiles.foreach { f =>
      val ks = spark.read.parquet(s"$dir/$f")
        .select("k").collect().map(_.getLong(0)).toSeq
      assert(ks == ks.sorted, s"file $f not sorted by k: ${ks.take(10)}")
    }
    // empty parens drop the sticky order
    spark.sql(s"ALTER LAKE '$dir' SET SORT ORDER ()")
    assert(t.effectiveLayout._3.isEmpty, t.effectiveLayout.toString)
    // unknown column refused
    val bad = intercept[Exception](spark.sql(
      s"ALTER LAKE '$dir' SET SORT ORDER (nope)"))
    assert(bad.getMessage.contains("not in the table schema"), bad.getMessage.take(200))
  }

  test("ALTER LAKE CHANGE COLUMN: widening retype + rename are metadata-only; narrowing refuses") {
    val dir = Files.createTempDirectory("graft_retype").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir' AS " +
      "SELECT CAST(id AS INT) AS n, CAST(id AS FLOAT) AS f, id AS tag FROM range(100)")
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    val filesBefore = t.commits.flatMap(_.files).toSet
    // int -> bigint, keeping the name: files on disk stay, values upcast
    spark.sql(s"ALTER LAKE '$dir' MODIFY COLUMN n n BIGINT")
    assert(t.read().schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(t.read().agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) == 4950L)
    // float -> double with a RENAME in one statement (reference
    // SqlAlterTableChangeColumn's TypedElement carries both)
    spark.sql(s"ALTER LAKE '$dir' CHANGE COLUMN f f2 DOUBLE")
    val sch = t.read().schema
    assert(sch("f2").dataType == org.apache.spark.sql.types.DoubleType)
    assert(!sch.fieldNames.contains("f"))
    assert(t.read().where("f2 = 42.0").count() == 1)
    // both changes were metadata-only commits — zero files rewritten
    assert(t.commits.flatMap(_.files).toSet == filesBefore)
    // time travel still reads the PRE-change types
    val v0 = t.read(Some(t.commits.head.version)).schema
    assert(v0("n").dataType == org.apache.spark.sql.types.IntegerType)
    assert(v0("f").dataType == org.apache.spark.sql.types.FloatType)
    // narrowing and shape changes refuse
    val narrow = intercept[Exception](
      spark.sql(s"ALTER LAKE '$dir' MODIFY COLUMN n n INT"))
    assert(narrow.getMessage.contains("not a widening"), narrow.getMessage.take(200))
    assertThrows[Exception](
      spark.sql(s"ALTER LAKE '$dir' MODIFY COLUMN tag tag STRING"))
    // retyping a bucket-partition source refuses: Murmur3 hashes int 5
    // and long 5 differently, so pruning would silently skip files
    val bdir = Files.createTempDirectory("graft_retype_bucket").toString + "/t"
    spark.sql(s"CREATE LAKE '$bdir' PARTITION BY (bucket(4, k)) AS " +
      "SELECT CAST(id AS INT) AS k, id AS v FROM range(100)")
    val bucketClash = intercept[Exception](
      spark.sql(s"ALTER LAKE '$bdir' MODIFY COLUMN k k BIGINT"))
    assert(bucketClash.getMessage.contains("bucket"), bucketClash.getMessage.take(200))
    // rename onto an existing name refuses BEFORE any commit publishes
    val head = t.latestVersion
    val clash = intercept[Exception](
      spark.sql(s"ALTER LAKE '$dir' CHANGE COLUMN n tag BIGINT"))
    assert(clash.getMessage.contains("already exists"), clash.getMessage.take(200))
    assert(t.latestVersion == head, "doomed CHANGE must publish nothing")
  }

  test("ALTER LAKE CLUSTER BY: keyless OPTIMIZE rewrites Z-order-clustered; reference preconditions refuse") {
    val dir = Files.createTempDirectory("graft_cluster").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir' AS " +
      "SELECT id AS a, (id * 37) % 1000 AS b FROM range(10000)")
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    // scatter the data across files so clustering has something to fix
    spark.sql(s"INSERT INTO LAKE '$dir' SELECT (id * 13) % 10000 AS a, " +
      "(id * 7) % 1000 AS b FROM range(10000, 20000)")
    spark.sql(s"ALTER LAKE '$dir' CLUSTER BY (a, b)")
    // the keys live in the sort-order slot + the marker property
    assert(t.effectiveLayout._3 == Seq("a", "b"))
    assert(t.properties.get(graft.sqlext.GraftSqlParser.ClusteringProp).contains("true"))
    // a manual sort order may not shadow a clustering key silently:
    // re-declaring CLUSTER BY is allowed, SET SORT ORDER still works for
    // the drop path; a NON-clustered table with a sort order refuses
    val dir2 = Files.createTempDirectory("graft_cluster2").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir2' AS SELECT id AS a, id % 3 AS b FROM range(10)")
    spark.sql(s"ALTER LAKE '$dir2' SET SORT ORDER (a)")
    val sortClash = intercept[Exception](spark.sql(s"ALTER LAKE '$dir2' CLUSTER BY (a, b)"))
    assert(sortClash.getMessage.contains("sort order already defined"),
      sortClash.getMessage.take(200))
    // keyless OPTIMIZE rewrites clustered: with 8 output files, every
    // file's per-column span must be a small fraction of both domains
    // (lexicographic sort would leave b spanning its whole domain)
    spark.sql(s"OPTIMIZE LAKE '$dir' INTO 8 FILES")
    val files = t.commits.last.files
    assert(files.size == 8, files.toString)
    val spans = files.map { f =>
      val r = spark.read.parquet(s"$dir/$f")
        .agg(org.apache.spark.sql.functions.max("a").minus(org.apache.spark.sql.functions.min("a")),
             org.apache.spark.sql.functions.max("b").minus(org.apache.spark.sql.functions.min("b")))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    // every file keeps b (the SECOND key) narrow — lexicographic sort by
    // (a, b) would leave b spanning ~its whole 1000-wide domain in every
    // file — and a stays narrow too except possibly a Z-range boundary
    // straddler (row-count-equal range splits need not align with Z bits)
    assert(spans.forall(_._2 <= 700), s"b not clustered: spans=$spans")
    // a-span tolerance: Z-range boundaries come from range-partition
    // SAMPLING, whose split points move with the input's partitioning
    // (AQE coalescing under ambient load) — so the count of straddler
    // files varies run to run. 5-of-8 narrow still separates Z-order
    // from lexicographic (which narrows a in EVERY file but leaves b
    // wide — the assertion above is the discriminator).
    assert(spans.count(_._1 <= 6000) >= 5, s"a not clustered: spans=$spans")
    // partitioned tables refuse (the reference's precondition)
    val pdir = Files.createTempDirectory("graft_cluster_p").toString + "/t"
    spark.sql(s"CREATE LAKE '$pdir' PARTITION BY (identity(b)) AS " +
      "SELECT id AS a, id % 3 AS b FROM range(30)")
    val partClash = intercept[Exception](spark.sql(s"ALTER LAKE '$pdir' CLUSTER BY (a)"))
    assert(partClash.getMessage.contains("partitioned"), partClash.getMessage.take(200))
    // CTAS-time clustering keys (reference SqlCreateTable CLUSTER BY slot)
    // land in the same two slots; combining with PARTITION BY refuses
    val cdir = Files.createTempDirectory("graft_cluster_ctas").toString + "/t"
    spark.sql(s"CREATE LAKE '$cdir' CLUSTER BY (a, b) AS " +
      "SELECT id AS a, id % 9 AS b FROM range(200)")
    val ct = graft.sources.SnapshotTable.forPath(spark, cdir)
    assert(ct.effectiveLayout._3 == Seq("a", "b"))
    assert(ct.properties.get(graft.sqlext.GraftSqlParser.ClusteringProp).contains("true"))
    assertThrows[Exception](spark.sql(
      s"CREATE LAKE '${cdir}2' PARTITION BY (identity(b)) CLUSTER BY (a) AS " +
        "SELECT id AS a, id % 9 AS b FROM range(10)"))
    // DISTRIBUTE BY hash-clusters rows across writers: every b value
    // lands in exactly ONE file (no partition directories involved)
    val ddir = Files.createTempDirectory("graft_distby").toString + "/t"
    spark.sql(s"CREATE LAKE '$ddir' DISTRIBUTE BY (b) AS " +
      "SELECT id AS a, id % 5 AS b FROM range(5000)")
    val dt = graft.sources.SnapshotTable.forPath(spark, ddir)
    val perValue = dt.commits.last.files.flatMap { f =>
      spark.read.parquet(s"$ddir/$f").select("b").distinct()
        .collect().map(r => (r.getLong(0), f))
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size)
    assert(perValue.values.forall(_ == 1),
      s"DISTRIBUTE BY must co-locate each key in one file: $perValue")
    // WITH SINGLE WRITER funnels the CTAS through one task -> one file
    val sdir = Files.createTempDirectory("graft_singlew").toString + "/t"
    spark.sql(s"CREATE LAKE '$sdir' WITH SINGLE WRITER AS SELECT id FROM range(1000)")
    assert(graft.sources.SnapshotTable.forPath(spark, sdir).commits.last.files.size == 1)
    // DROP CLUSTERING KEY clears both slots; dropping twice refuses
    spark.sql(s"ALTER LAKE '$dir' DROP CLUSTERING KEY")
    assert(t.effectiveLayout._3.isEmpty)
    assert(!t.properties.contains(graft.sqlext.GraftSqlParser.ClusteringProp))
    val noKey = intercept[Exception](spark.sql(s"ALTER LAKE '$dir' DROP CLUSTERING KEY"))
    assert(noKey.getMessage.contains("no clustering key"), noKey.getMessage.take(200))
  }

  test("VACUUM LAKE OLDER_THAN keeps commits at/after the cutoff") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vacuum_older").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir' AS SELECT id FROM range(50)")
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    t.overwrite(spark.range(100, 120).toDF("id"))
    // cutoff BETWEEN the two commits: v1 expires, v2 stays
    val tsBetween = (t.commits.head.timestampMs + t.commits.last.timestampMs) / 2 + 1
    val iso = new java.sql.Timestamp(tsBetween).toString
    val deleted = spark.sql(
      s"VACUUM LAKE '$dir' OLDER_THAN '$iso' GRACE 0").head().getString(0).toInt
    assert(deleted > 0, "v1's files should be unreferenced and deleted")
    assert(spark.sql(s"SELECT count(*) FROM lake_scan('$dir')").head().getLong(0) == 20L)
    // a cutoff before BOTH commits expires nothing (age rule keeps both)
    val t2dir = java.nio.file.Files.createTempDirectory("graft_vacuum_older2").toString + "/t"
    spark.sql(s"CREATE LAKE '$t2dir' AS SELECT id FROM range(10)")
    graft.sources.SnapshotTable.forPath(spark, t2dir)
      .overwrite(spark.range(5).toDF("id"))
    val deleted2 = spark.sql(
      s"VACUUM LAKE '$t2dir' OLDER_THAN '1970-01-01 00:00:00' GRACE 0")
      .head().getString(0).toInt
    assert(deleted2 == 0, s"nothing is older than epoch, deleted $deleted2")
  }

  test("DESCRIBE LAKE AT BRANCH shows the ref's visible log") {
    val dir = Files.createTempDirectory("graft_desc_ref").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir' AS SELECT id FROM range(10)")
    spark.sql(s"CREATE BRANCH db FROM LAKE '$dir'")
    spark.sql(s"INSERT INTO LAKE '$dir' AT BRANCH db SELECT id FROM range(10, 15)")
    spark.sql(s"INSERT INTO LAKE '$dir' SELECT id FROM range(20, 40)") // main only
    val main = spark.sql(s"DESCRIBE LAKE '$dir'").count()
    val branch = spark.sql(s"DESCRIBE LAKE '$dir' AT BRANCH db").count()
    // both sides advanced once past the shared fork commit(s)
    assert(main == branch, s"main=$main branch=$branch")
    // the branch's LAST commit is its staged append, not main's
    val bLast = spark.sql(s"DESCRIBE LAKE '$dir' AT BRANCH db")
      .collect().last
    val mLast = spark.sql(s"DESCRIBE LAKE '$dir'").collect().last
    assert(bLast.getString(3) != mLast.getString(3) ||
           bLast.getString(2) != mLast.getString(2),
      s"branch log must diverge from main: $bLast vs $mLast")
    assertThrows[Exception](
      spark.sql(s"DESCRIBE LAKE '$dir' AT BRANCH nope").collect())
  }

  test("SHOW CREATE VIEW prints the stored lake-view definition with its pin") {
    val dir = Files.createTempDirectory("graft_scv").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir' AS SELECT id FROM range(10)")
    spark.sql(s"CREATE LAKE VIEW scv_plain FROM '$dir'")
    assert(spark.sql("SHOW CREATE VIEW scv_plain").head().getString(1) ==
      s"CREATE LAKE VIEW scv_plain FROM '$dir'")
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    spark.sql(s"CREATE LAKE VIEW scv_v FROM '$dir' VERSION AS OF ${t.latestVersion}")
    assert(spark.sql("SHOW CREATE LAKE VIEW scv_v").head().getString(1) ==
      s"CREATE LAKE VIEW scv_v FROM '$dir' VERSION AS OF ${t.latestVersion}")
    spark.sql(s"CREATE BRANCH scv_b FROM LAKE '$dir'")
    spark.sql(s"CREATE LAKE VIEW scv_ref FROM '$dir' AT BRANCH scv_b")
    assert(spark.sql("SHOW CREATE VIEW scv_ref").head().getString(1) ==
      s"CREATE LAKE VIEW scv_ref FROM '$dir' AT BRANCH scv_b")
    val unknown = intercept[Exception](spark.sql("SHOW CREATE VIEW nope_view"))
    assert(unknown.getMessage.contains("no lake view"), unknown.getMessage.take(200))
  }

  test("VACUUM LAKE REMOVE ORPHAN FILES deletes only unreferenced files, expires nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orphan").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir' AS SELECT id FROM range(100)")
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    t.overwrite(spark.range(200, 260).toDF("id")) // v1: v0's files now history-only
    // plant orphans: a crashed writer's data file at the root and one in a
    // subdirectory, plus a young orphan that must survive the age gate
    spark.range(5).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$dir/__orphans")
    val orphans = new java.io.File(s"$dir/__orphans").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(orphans.nonEmpty)
    java.nio.file.Files.copy(orphans.head.toPath,
      java.nio.file.Paths.get(s"$dir/orphan_root.parquet"))
    val rowsBefore = t.read().count()
    val historyBefore = t.commits.size
    // everything on disk is younger than 3 days, so the default age gate
    // deletes nothing — the in-flight-writer protection
    assert(spark.sql(s"VACUUM LAKE '$dir' REMOVE ORPHAN FILES").head().getString(0) == "0")
    // explicit OLDER_THAN in the future sweeps the orphans...
    val future = new java.sql.Timestamp(System.currentTimeMillis() + 60000).toString
    val n = spark.sql(
      s"VACUUM LAKE '$dir' REMOVE ORPHAN FILES OLDER_THAN '$future'").head().getString(0)
    assert(n.toInt >= 2, s"deleted $n")
    assert(!new java.io.File(s"$dir/orphan_root.parquet").exists())
    // ...but expires NOTHING: same rows, same history, v0 still travels
    assert(t.read().count() == rowsBefore)
    assert(t.commits.size == historyBefore)
    assert(t.read(Some(t.commits.head.version)).count() == 100)
    // LOCATION narrows the sweep to a subtree; outside it nothing moves
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/${t.commits.last.files.head}"),
      java.nio.file.Paths.get(s"$dir/orphan_again.parquet"))
    spark.range(3).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/__scoped")
    val n2 = spark.sql(s"VACUUM LAKE '$dir' REMOVE ORPHAN FILES " +
      s"OLDER_THAN '$future' LOCATION '$dir/__scoped'").head().getString(0)
    assert(n2.toInt >= 1)
    assert(new java.io.File(s"$dir/orphan_again.parquet").exists())
    // a LOCATION outside the table root refuses
    assertThrows[Exception](spark.sql(
      s"VACUUM LAKE '$dir' REMOVE ORPHAN FILES LOCATION '/tmp/elsewhere'"))
  }

  test("VACUUM CATALOG sweeps every lake table under the root") {
    val root = java.nio.file.Files.createTempDirectory("graft_vacuum_cat").toString
    // two tables at different nesting depths + one non-table dir
    spark.sql(s"CREATE LAKE '$root/a' AS SELECT id FROM range(30)")
    spark.sql(s"CREATE LAKE '$root/nested/b' AS SELECT id FROM range(30)")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/empty"))
    for (d <- Seq(s"$root/a", s"$root/nested/b"))
      graft.sources.SnapshotTable.forPath(spark, d)
        .overwrite(spark.range(5).toDF("id"))
    val rows = spark.sql(s"VACUUM CATALOG '$root' RETAIN 1 VERSIONS GRACE 0")
      .collect().map(r => (r.getString(0), r.getString(1).toInt)).toMap
    assert(rows.size == 2, rows.toString)
    assert(rows.keys.exists(_.endsWith("/a")) &&
      rows.keys.exists(_.endsWith("/nested/b")), rows.keys.toString)
    assert(rows.values.forall(_ > 0), s"both tables had unreferenced files: $rows")
    // both still serve their current snapshots
    assert(spark.sql(s"SELECT count(*) FROM lake_scan('$root/a')").head().getLong(0) == 5L)
    assert(spark.sql(s"SELECT count(*) FROM lake_scan('$root/nested/b')").head().getLong(0) == 5L)
  }

  test("OPTIMIZE REWRITE DATA bin-packs only the small-file tail; REWRITE MANIFESTS is metadata-only") {
    val dir = Files.createTempDirectory("graft_binpack").toString + "/t"
    // one HEALTHY file (incompressible random doubles, well over 1 MB)
    // + five tiny commits
    spark.sql(s"CREATE LAKE '$dir' WITH SINGLE WRITER AS " +
      "SELECT id, rand(42) AS r1, rand(43) AS r2 FROM range(200000)")
    (0 until 5).foreach(i => spark.sql(
      s"INSERT INTO LAKE '$dir' SELECT id, rand(1) AS r1, rand(2) AS r2 " +
        s"FROM range(${1000 + i}, ${1010 + i})"))
    val t = graft.sources.SnapshotTable.forPath(spark, dir)
    val healthy = t.commits.head.files.head
    val tinyFiles = t.snapshot()._1.size - 1 // inserts may split into tasks
    assert(tinyFiles >= 5)
    val rowsBefore = t.read().count()
    // fewer candidates than MIN_INPUT_FILES -> NO-OP, version unchanged
    val v0 = t.latestVersion
    spark.sql(s"OPTIMIZE LAKE '$dir' REWRITE DATA USING BIN_PACK " +
      s"(MIN_INPUT_FILES = ${tinyFiles + 5}, MIN_FILE_SIZE_MB = 1, TARGET_FILE_SIZE_MB = 1)")
    assert(t.latestVersion == v0, "below MIN_INPUT_FILES must be a no-op")
    // the five tiny files pack into one; the healthy file carries BY
    // REFERENCE (same path, not rewritten)
    spark.sql(s"OPTIMIZE LAKE '$dir' REWRITE DATA USING BIN_PACK " +
      "(MIN_INPUT_FILES = 2, MIN_FILE_SIZE_MB = 1, TARGET_FILE_SIZE_MB = 1, " +
      "MAX_FILE_SIZE_MB = 1000)")
    assert(t.latestVersion == v0 + 1)
    val after = t.snapshot()._1.map(_.stripPrefix(s"$dir/"))
    assert(after.size == 2, s"expected packed+carried, got $after")
    assert(after.contains(healthy), "healthy file must carry by reference")
    assert(t.read().count() == rowsBefore)
    // unknown options refuse loudly
    val bad = intercept[Exception](spark.sql(
      s"OPTIMIZE LAKE '$dir' REWRITE DATA (NOPE_OPT = 3)"))
    assert(bad.getMessage.contains("unknown options"), bad.getMessage.take(200))
    // FOR PARTITIONS + size options refuse together
    assertThrows[Exception](spark.sql(s"OPTIMIZE LAKE '$dir' REWRITE DATA " +
      "FOR PARTITIONS (id < 10) (MIN_INPUT_FILES = 1)"))
    // REWRITE MANIFESTS: checkpoint lands at the head, data untouched,
    // idempotent, and a cold re-read replays exactly
    val filesBefore = t.snapshot()._1.toSet
    spark.sql(s"OPTIMIZE LAKE '$dir' REWRITE MANIFESTS")
    val ck = new java.io.File(s"$dir/_graft_log").listFiles()
      .map(_.getName).filter(_.startsWith("ckpt-v"))
    assert(ck.length == 1, ck.toSeq.toString)
    assert(ck.head == f"ckpt-v${t.latestVersion}%08d.json", ck.head)
    spark.sql(s"OPTIMIZE LAKE '$dir' REWRITE MANIFESTS") // idempotent
    assert(t.snapshot()._1.toSet == filesBefore)
    assert(t.read().count() == rowsBefore)
  }

  test("OPTIMIZE LAKE ... WHERE compacts only the touched files (partial rewrite)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_opt_where").toString + "/t"
    // partitioned by grp → files are per-partition; stats give the pruner
    // per-file grp ranges, so WHERE grp = 1 touches exactly that partition
    spark.sql(s"CREATE LAKE '$dir' PARTITION BY (identity(grp)) STATS (grp) AS " +
      "SELECT id, CAST(id % 3 AS INT) AS grp FROM range(300)")
    // several appends fragment partition 1
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO LAKE '$dir' " +
        s"SELECT id + ${1000 * (i + 1)} AS id, 1 AS grp FROM range(10)")
    }
    // classify files by their manifest grp stat (partition files carry
    // min==max); paths are opaque, the manifest is the authority
    def filesByGrp(): Map[String, Set[String]] = spark.sql(
      s"SELECT file_path, stats_min['grp'] AS g FROM lake_files('$dir')")
      .as[(String, String)].collect().toSeq
      .groupBy(x => String.valueOf(x._2)).view.mapValues(_.map(_._1).toSet).toMap
    val before = filesByGrp()
    assert(before("1").size >= 4, s"fixture: grp=1 should be fragmented: $before")
    val cold = spark.sql(s"SELECT id, grp FROM lake_scan('$dir') ORDER BY id")
      .as[(Long, Int)].collect().toSeq
    spark.sql(s"OPTIMIZE LAKE '$dir' INTO 1 FILES WHERE grp = 1")
    val after = filesByGrp()
    // untouched partitions carried BY REFERENCE (same physical files)
    assert(after("0") == before("0") && after("2") == before("2"),
      s"untouched files were rewritten:\nbefore $before\nafter $after")
    // partition 1 compacted: fewer files, none of the old ones survive
    assert(after("1").intersect(before("1")).isEmpty &&
      after("1").size < before("1").size,
      s"grp=1 not compacted: ${before("1").size} -> ${after("1").size}")
    // rows unchanged
    val hot = spark.sql(s"SELECT id, grp FROM lake_scan('$dir') ORDER BY id")
      .as[(Long, Int)].collect().toSeq
    assert(hot == cold, "partial compaction changed table contents")
  }

  test("lake-source pipes: incremental append replication and CDC merge through SQL") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_lakepipe").toString
    val (srcDir, dstDir) = (s"$base/src", s"$base/dst")
    spark.sql(s"CREATE LAKE '$srcDir' AS SELECT id, id * 2 AS v FROM range(100)")
    spark.sql(s"CREATE PIPE lp_app FROM LAKE '$srcDir' INTO LAKE '$dstDir' CHECKPOINT '$base/chk1'")
    // initial sync ships the full snapshot
    val r1 = spark.sql("TRIGGER PIPE lp_app").collect()(0)
    assert(r1.getString(1) == "100", s"initial sync loaded ${r1.getString(1)}")
    def cnt(dir: String): Long =
      spark.sql(s"SELECT count(*) FROM lake_scan('$dir')").head().getLong(0)
    assert(cnt(dstDir) == 100L)
    // nothing new → no-op trigger (and no new target commit)
    val dstCommits = graft.sources.SnapshotTable.forPath(spark, dstDir).commits.size
    assert(spark.sql("TRIGGER PIPE lp_app").collect()(0).getString(1) == "0")
    assert(graft.sources.SnapshotTable.forPath(spark, dstDir).commits.size == dstCommits)
    // appends replicate incrementally
    spark.sql(s"INSERT INTO LAKE '$srcDir' SELECT id, id * 2 AS v FROM range(100, 150)")
    assert(spark.sql("TRIGGER PIPE lp_app").collect()(0).getString(1) == "50")
    assert(cnt(dstDir) == 150L)
    // CDC pipe: bootstrap, then row-level DML replication by key
    val dst2 = s"$base/dst2"
    spark.sql(s"CREATE PIPE lp_cdc FROM LAKE '$srcDir' MERGE KEY id INTO LAKE '$dst2' CHECKPOINT '$base/chk2'")
    spark.sql("TRIGGER PIPE lp_cdc")
    assert(cnt(dst2) == 150L)
    spark.sql(s"DELETE FROM LAKE '$srcDir' WHERE id >= 140")
    spark.sql(s"UPDATE LAKE '$srcDir' SET v = id * 3 WHERE id < 10")
    spark.sql("TRIGGER PIPE lp_cdc")
    val want = spark.sql(s"SELECT id, v FROM lake_scan('$srcDir')")
      .as[(Long, Long)].collect().toSet
    val got = spark.sql(s"SELECT id, v FROM lake_scan('$dst2')")
      .as[(Long, Long)].collect().toSet
    assert(got == want, s"CDC replica diverged: ${got.diff(want)} / ${want.diff(got)}")
    assert(got.size == 140 && got(({(5L, 15L)}: (Long, Long))), s"updated row missing")
    // the APPEND pipe must refuse to cross the source's DML commits
    val ex = intercept[Exception] { spark.sql("TRIGGER PIPE lp_app").collect() }
    assert(ex.getMessage.toLowerCase.contains("add-only") ||
      ex.getMessage.toLowerCase.contains("append"), ex.getMessage)
    spark.sql("SHOW PIPES").collect() // surface intact after the failure
  }

  test("lake metadata table functions: lake_files / lake_history / lake_refs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tvf").toString + "/t"
    spark.sql(s"CREATE LAKE '$dir' STATS (id) AS SELECT id, id * 2 AS v FROM range(100)")
    spark.sql(s"INSERT INTO LAKE '$dir' SELECT id, id * 2 AS v FROM range(100, 150)")
    spark.sql(s"CREATE BRANCH exp FROM LAKE '$dir'")
    // files: manifest-resident rows, joinable like any relation
    val files = spark.sql(s"SELECT * FROM lake_files('$dir')")
    assert(files.columns.toSeq ==
      Seq("file_path", "size_bytes", "row_count", "stats_min", "stats_max"))
    val totalRows = spark.sql(
      s"SELECT sum(row_count) FROM lake_files('$dir')").head().getLong(0)
    assert(totalRows == 150L, s"manifest row_count sum $totalRows")
    // per-file id stats surfaced from the manifest (STATS (id) at CREATE)
    val minIds = files.select("stats_min").as[Map[String, String]].collect()
    assert(minIds.forall(_.contains("id")), "id min/max missing from stats")
    // history: one row per commit, versions ascending
    val hist = spark.sql(
      s"SELECT version, action FROM lake_history('$dir') ORDER BY version")
      .as[(Long, String)].collect().toSeq
    assert(hist.map(_._1) == Seq(1L, 2L), s"history $hist")
    // refs: the branch we just created
    val refs = spark.sql(s"SELECT name, type FROM lake_refs('$dir')")
      .as[(String, String)].collect().toSeq
    assert(refs.contains(("exp", "branch")), s"refs $refs")
    spark.sql(s"DROP BRANCH exp FROM LAKE '$dir'")
    // inline relation: query the table at its path, with time travel
    val n = spark.sql(s"SELECT count(*) AS n FROM lake_scan('$dir')")
      .head().getLong(0)
    assert(n == 150L, s"lake_scan rows $n")
    val nV1 = spark.sql(s"SELECT count(*) AS n FROM lake_scan('$dir', 1)")
      .head().getLong(0)
    assert(nV1 == 100L, s"lake_scan at version 1 rows $nV1")
    // joins like any relation: manifest stats vs live scan agree
    val joined = spark.sql(
      s"""SELECT f.total, s.n FROM
         |  (SELECT sum(row_count) AS total FROM lake_files('$dir')) f,
         |  (SELECT count(*) AS n FROM lake_scan('$dir')) s""".stripMargin)
      .head()
    assert(joined.getLong(0) == joined.getLong(1), s"manifest/scan disagree: $joined")
    // string second argument reads a BRANCH or TAG inline
    spark.sql(s"CREATE BRANCH scanref FROM LAKE '$dir' VERSION AS OF 1")
    spark.sql(s"INSERT INTO LAKE '$dir' AT BRANCH scanref SELECT id, id AS v FROM range(7)")
    val nBranch = spark.sql(s"SELECT count(*) AS n FROM lake_scan('$dir', 'scanref')")
      .head().getLong(0)
    assert(nBranch == 107L, s"branch scan rows $nBranch")
    assert(spark.sql(s"SELECT count(*) FROM lake_scan('$dir')").head().getLong(0) == 150L,
      "main must not see staged branch rows")
    spark.sql(s"DROP BRANCH scanref FROM LAKE '$dir'")
  }

  test("EXPLAIN JSON emits a parseable plan per phase") {
    graft.engine.Tables.ensure(spark, TestSpark.sf)
    val q = "SELECT l_returnflag, count(*) AS n FROM lineitem " +
      "WHERE l_quantity > 10 GROUP BY l_returnflag"
    for (phase <- Seq("parsed", "analyzed", "optimized", "physical")) {
      val row = spark.sql(s"EXPLAIN JSON $phase FOR $q").collect().head
      assert(row.getString(0) == phase)
      val json = row.getString(1)
      assert(json.startsWith("[") && json.contains("\"class\""),
        s"phase $phase not JSON: ${json.take(80)}")
    }
    // default phase is the final (physical) plan; unknown phases refuse
    assert(spark.sql(s"EXPLAIN JSON FOR $q").collect().head.getString(0) == "physical")
    intercept[Exception](spark.sql(s"EXPLAIN JSON bogus FOR $q").collect())
  }

  test("COMPACT MATERIALIZATION merges files, content and substitution intact") {
    Reflections.clear()
    graft.engine.Tables.ensure(spark, TestSpark.sf)
    val dir = Files.createTempDirectory("graft_compact").toString
    spark.sql(s"CREATE REFLECTION cmx USING PATH '$dir/cmx' AS " +
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag")
    // splinter the materialization into many files (refresh-delta analog)
    val before = spark.read.parquet(s"$dir/cmx")
    before.repartition(17).write.mode("overwrite").parquet(s"$dir/cmx")
    val want = spark.read.parquet(s"$dir/cmx").orderBy("l_returnflag")
      .collect().toSeq
    val out = spark.sql("COMPACT MATERIALIZATION cmx INTO 2 FILES").collect().head
    assert(out.getString(0) == "cmx" && out.getString(1) == "2")
    assert(spark.read.parquet(s"$dir/cmx").orderBy("l_returnflag")
      .collect().toSeq == want, "compaction changed content")
    // the reflection still serves the defining query
    val served = spark.sql("EXPLAIN ACCELERATION SELECT l_returnflag, count(*) " +
      "AS n FROM lineitem GROUP BY l_returnflag").collect()
    assert(served.exists(_.getString(2) == "true"), "substitution lost after compaction")
    intercept[Exception](spark.sql("COMPACT MATERIALIZATION ghost"))
    Reflections.clear()
  }

  test("ALTER QUEUE resizes an existing queue; unknown queue refuses") {
    spark.sql("CREATE QUEUE alterq SLOTS 2")
    val row = spark.sql("ALTER QUEUE alterq SLOTS 5").collect().head
    assert(row.getString(0) == "alterq" && row.getString(1) == "5")
    assert(graft.engine.Queues.status.find(_.name == "alterq").get.slots == 5)
    intercept[Exception](spark.sql("ALTER QUEUE no_such_queue SLOTS 3"))
    spark.sql("DROP QUEUE alterq")
  }

  test("CREATE/DROP FOLDER map to catalog namespaces") {
    spark.sql("CREATE FOLDER graft_folder_x")
    assert(spark.catalog.databaseExists("graft_folder_x"))
    intercept[Exception](spark.sql("CREATE FOLDER graft_folder_x"))
    spark.sql("CREATE FOLDER IF NOT EXISTS graft_folder_x") // quiet
    spark.sql("DROP FOLDER graft_folder_x")
    assert(!spark.catalog.databaseExists("graft_folder_x"))
    intercept[Exception](spark.sql("DROP FOLDER graft_folder_x"))
    spark.sql("DROP FOLDER IF EXISTS graft_folder_x") // quiet
  }

  test("metadata TVF family: lake_partitions / iceberg_manifests / iceberg_partitions / delta_history") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("sqlext_meta").toString
    spark.sql(s"""CREATE LAKE '$src' PARTITION BY (identity(grp))
                 |AS SELECT id, CAST(id % 3 AS INT) AS grp FROM range(90)""".stripMargin)
    // lake_partitions: per-partition totals straight from the manifest
    val parts = spark.sql(
      s"""SELECT partition['grp'] AS grp, n_files, row_count
         |FROM lake_partitions('$src') ORDER BY grp""".stripMargin).collect()
    assert(parts.map(_.getString(0)).toSeq == Seq("0", "1", "2"))
    assert(parts.map(_.getLong(2)).toSeq == Seq(30L, 30L, 30L))
    assert(parts.forall(_.getInt(1) >= 1))
    // iceberg side: export, then manifests + per-partition totals
    val ice = java.nio.file.Files.createTempDirectory("sqlext_meta_ice").toString + "/tree"
    spark.sql(s"EXPORT LAKE '$src' TO '$ice' PARTITION BY (grp)")
    val man = spark.sql(s"SELECT * FROM iceberg_manifests('$ice')").collect()
    assert(man.nonEmpty && man.forall(_.getAs[String]("content") == "data"))
    assert(man.map(_.getAs[Long]("added_rows")).sum == 90L)
    val ipart = spark.sql(
      s"""SELECT partition['grp'] AS grp, row_count
         |FROM iceberg_partitions('$ice') ORDER BY grp""".stripMargin).collect()
    assert(ipart.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("0", 30L), ("1", 30L), ("2", 30L)))
    // delta side: export + a DV commit → history shows both versions
    val dl = java.nio.file.Files.createTempDirectory("sqlext_meta_dl").toString + "/tbl"
    spark.sql(s"EXPORT LAKE '$src' TO '$dl' FORMAT DELTA")
    val hist = spark.sql(s"SELECT * FROM delta_history('$dl') ORDER BY version").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L))
    assert(hist.head.getAs[Int]("n_adds") >= 1 && hist.head.getAs[Int]("n_removes") == 0)
  }

  test("external_query ships raw remote-dialect SQL; enforcement gates per source") {
    import spark.implicits._
    val url = "jdbc:derby:memory:sqlext_eq;create=true"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
      .write.format("jdbc")
      .option("url", url).option("dbtable", "EQ_T")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("createTableColumnTypes", "name VARCHAR(32)")
      .mode("overwrite").save()
    spark.conf.set("spark.sql.catalog.sqlext_eq.url", url)
    spark.conf.set("spark.sql.catalog.sqlext_eq.driver",
      "org.apache.derby.jdbc.EmbeddedDriver")
    // Derby-only syntax (FETCH FIRST) passes through verbatim
    val q = """SELECT id, name FROM external_query('sqlext_eq',
              |  'SELECT "id", "name" FROM APP.EQ_T ORDER BY "id"
              |   FETCH FIRST 2 ROWS ONLY') ORDER BY id""".stripMargin
    assert(spark.sql(q).collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // unknown source refuses loudly
    val e = intercept[Exception](
      spark.sql("SELECT * FROM external_query('no_such_src', 'SELECT 1')"))
    assert(e.getMessage.contains("no JDBC source"), e.getMessage)
    // enforcement: EXTERNAL QUERY is granted per SOURCE (raw SQL is
    // opaque to the table-level check rule)
    import graft.auth.Privileges
    Privileges.clear()
    try {
      spark.sql("CREATE USER eq_admin PASSWORD 'xp' ADMIN")
      spark.sql("CREATE USER eq_user PASSWORD 'up'")
      spark.sql("ALTER AUTH ENFORCE ON")
      val denied = intercept[Exception](spark.sql(q))
      assert(denied.getMessage.contains("external:sqlext_eq"), denied.getMessage)
      spark.sql("AUTHENTICATE USER eq_admin PASSWORD 'xp'")
      spark.sql("GRANT SELECT ON 'external:sqlext_eq' TO USER eq_user")
      spark.sql("AUTHENTICATE USER eq_user PASSWORD 'up'")
      assert(spark.sql(q).count() == 2L)
    } finally {
      Privileges.clear()
      spark.conf.unset(Privileges.TokenConf)
      spark.conf.unset(Privileges.UserConf)
    }
  }

  test("comments around graft statements parse like the bare statement") {
    val parser = spark.sessionState.sqlParser
    def command(sql: String) = {
      val p = parser.parsePlan(sql)
      (p.getClass, p.productIterator.filterNot(_ == p.output).toList)
    }
    val dir = Files.createTempDirectory("graft_comments").toString + "/t"
    val ctas = s"CREATE LAKE '$dir' PARTITION BY (day(ts)) STATS (id) AS SELECT 1 AS id"
    Seq(
      "-- leading line comment\nSHOW REFLECTIONS" -> "SHOW REFLECTIONS",
      "/* leading block comment */ SHOW REFLECTIONS" -> "SHOW REFLECTIONS",
      "/* leading block comment */ SHOW QUEUES" -> "SHOW QUEUES",
      "SHOW REFLECTIONS; -- done" -> "SHOW REFLECTIONS",
      (s"CREATE LAKE '$dir' PARTITION BY (day(ts)) /* between clauses */ STATS (id)" +
        " -- before the query\nAS SELECT 1 AS id") -> ctas
    ).foreach { case (commented, bare) =>
      val got = command(commented)
      assert(got._1.getName.startsWith("graft.") && got == command(bare), commented)
    }
  }
}

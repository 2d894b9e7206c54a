package graft.sqlext

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.SnapshotTable.{MatchedAction, WhenMatched, WhenNotMatched}
import graft.streaming.PipeExpectation
import GraftSqlParser._

/** Property-based grammar tests (ScalaCheck generators, fixed seeds): every
  * statement form of the extension grammar parses to its command, with the
  * expected fields, whatever the identifiers, whatever the quoted literals
  * hold (keywords, `;`, `''`, comment markers), and whatever whitespace or
  * comments sit between the tokens — before the statement, between its
  * clauses and after a trailing `;`. Keywords are upper- or lower-case.
  * `output` attributes are not compared.
  *
  * A template is the statement with single spaces between tokens; each
  * space outside quotes becomes random noise, and text inside «…» is Spark
  * SQL the grammar hands on verbatim (it is not noised). */
class SqlGrammarSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def samples[A](gen: Gen[A], n: Int): Seq[A] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i => gen.apply(params, org.scalacheck.rng.Seed(7L + i)))
  }

  // every identifier carries an underscore, so none is a keyword
  private val word: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, Gen.alphaNumChar))
    n <- Gen.choose(0, 99)
  } yield s"$h${t.mkString.toLowerCase}_$n"
  private def joined(sep: Gen[String]): Gen[String] = for {
    k <- Gen.choose(1, 3)
    parts <- Gen.listOfN(k, word)
    seps <- Gen.listOfN(k, sep)
  } yield parts.zip(seps).map { case (p, s) => p + s }.mkString.dropRight(seps.last.length)
  private val name = joined(Gen.oneOf(".", "-"))
  private val table = joined(Gen.const("."))
  private val num: Gen[Long] = Gen.choose(0L, 100000L)
  private val small: Gen[Int] = Gen.choose(1, 64)
  // literal text that would derail a scan unaware of quoting or comments
  private val value: Gen[String] = for {
    k <- Gen.choose(1, 5)
    parts <- Gen.listOfN(k, Gen.oneOf(Gen.oneOf("AS", "WHERE", "FROM", "SELECT", "INTO",
      "LAKE", "WHEN", "THEN", ";", "'", "--", "/*", "*/", "?", "(", ")", ",", "=", "/tmp"), word))
    seps <- Gen.listOfN(k, Gen.oneOf("", " ", "/"))
  } yield parts.zip(seps).map { case (p, s) => p + s }.mkString
  private def q(v: String): String = "'" + v.replace("'", "''") + "'"
  private def raw(sql: String): String = s"«$sql»"
  private val query: Gen[String] = for (a <- word; b <- word; t <- table; v <- value; n <- num)
    yield s"SELECT $a, ${q(v)} AS $b FROM $t WHERE $a > $n"
  private val cond: Gen[String] = for (a <- word; b <- word; v <- value; n <- num)
    yield s"s.$a = ${q(v)} AND CASE WHEN t.$b > $n THEN 1 ELSE 0 END = 1"
  private val cols: Gen[Seq[String]] = Gen.choose(1, 3).flatMap(Gen.listOfN(_, word))
  private def list(items: Seq[String]): String = items.map(raw).mkString("(", ", ", ")")
  // an optional clause is absent half the time (Gen.option drops it in one
  // draw of ten, too rarely to reach the defaults)
  private def opt[A](g: Gen[A]): Gen[Option[A]] = Gen.oneOf(Gen.const(None), g.map(Some(_)))
  private val refType = Gen.oneOf("BRANCH", "TAG")
  private val sets: Gen[Seq[(String, String)]] = Gen.choose(1, 3).flatMap(k =>
    Gen.listOfN(k, for (c <- word; v <- value; f <- word) yield c -> s"concat($f, ${q(v)}, 'x, y')"))
  private def setText(s: Seq[(String, String)]): String =
    s.map { case (c, e) => s"$c = ${raw(e)}" }.mkString(", ")

  private val forms: Seq[(String, Gen[(String, LogicalPlan)])] = Seq(
    // ---- reflections ----
    "CREATE REFLECTION" -> (for (n <- word; p <- value; sql <- query) yield
      (s"CREATE REFLECTION $n USING PATH ${q(p)} AS ${raw(sql)}", CreateReflectionCommand(n, p, sql))),
    "CREATE EXTERNAL REFLECTION" -> (for (n <- word; p <- value; sql <- query) yield
      (s"CREATE EXTERNAL REFLECTION $n USING PATH ${q(p)} AS ${raw(sql)}",
        CreateExternalReflectionCommand(n, p, sql))),
    "REFRESH REFLECTION" -> word.map(n => (s"REFRESH REFLECTION $n", RefreshReflectionCommand(n))),
    "DROP REFLECTION" -> word.map(n => (s"DROP REFLECTION $n", DropReflectionCommand(n))),
    "REFRESH REFLECTIONS" -> Gen.const(("REFRESH REFLECTIONS", RefreshAllReflectionsCommand(Nil))),
    "MAINTAIN REFLECTIONS" -> Gen.const(("MAINTAIN REFLECTIONS", MaintainReflectionsCommand(Nil))),
    "ALTER REFLECTION" -> (for (n <- word; m <- opt(num); unit <- Gen.oneOf("MINUTE", "MINUTES")) yield
      (s"ALTER REFLECTION $n REFRESH " + m.fold("MANUAL")(v => s"EVERY $v $unit"),
        AlterReflectionPolicyCommand(n, m, Nil))),
    "LOAD MATERIALIZATION" -> word.map(n =>
      (s"LOAD MATERIALIZATION $n", LoadMaterializationCommand(n, Nil))),
    "COMPACT MATERIALIZATION" -> (for (n <- word; f <- opt(small)) yield
      (s"COMPACT MATERIALIZATION $n" + f.fold("")(v => s" INTO $v FILES"),
        CompactMaterializationCommand(n, f.getOrElse(1), Nil))),
    "SHOW REFLECTIONS" -> Gen.const(("SHOW REFLECTIONS", ShowReflectionsCommand(Nil))),
    "EXPLAIN ACCELERATION" -> query.map(sql =>
      (s"EXPLAIN ACCELERATION ${raw(sql)}", ExplainAccelerationCommand(sql, Nil))),
    "EXPLAIN JSON" -> (for (p <- opt(Gen.oneOf("logical", "optimized", "physical")); sql <- query)
      yield (s"EXPLAIN JSON ${p.fold("")(_ + " ")}FOR ${raw(sql)}",
        ExplainJsonCommand(p.getOrElse("physical"), sql, Nil))),
    "EXPLAIN INSERT INTO LAKE" -> (for (plan <- Gen.oneOf("", "PLAN FOR "); d <- value; sql <- query)
      yield (s"EXPLAIN ${plan}INSERT INTO LAKE ${q(d)} ${raw(sql)}",
        ExplainLakeInsertCommand(d, sql, Nil))),
    "EXPLAIN DELETE FROM LAKE" -> (for (plan <- Gen.oneOf("", "PLAN FOR "); d <- value;
        b <- opt(name); c <- cond) yield
      (s"EXPLAIN ${plan}DELETE FROM LAKE ${q(d)}${b.fold("")(" AT BRANCH " + _)} WHERE ${raw(c)}",
        ExplainLakeDmlCommand(d, c, "copy-on-write delete", b, Nil))),
    "EXPLAIN UPDATE LAKE" -> (for (plan <- Gen.oneOf("", "PLAN FOR "); d <- value;
        b <- opt(name); s <- sets; c <- cond) yield
      (s"EXPLAIN ${plan}UPDATE LAKE ${q(d)}${b.fold("")(" AT BRANCH " + _)} SET ${setText(s)} " +
        s"WHERE ${raw(c)}", ExplainLakeDmlCommand(d, c, "copy-on-write update", b, Nil))),
    "EXPLAIN MERGE INTO LAKE" -> (for (plan <- Gen.oneOf("", "PLAN FOR "); d <- value;
        k <- word; sql <- query) yield
      (s"EXPLAIN ${plan}MERGE INTO LAKE ${q(d)} ON $k USING (${raw(sql)}) WHEN MATCHED THEN DELETE",
        ExplainLakeMergeCommand(d, k, sql, Nil))),

    // ---- pipes ----
    "CREATE PIPE file source" -> (for (n <- word; look <- opt(small); src <- value;
        fmt <- Gen.oneOf("CSV", "json", "Parquet"); ddl <- value; lake <- Gen.oneOf(true, false);
        tgt <- value; chk <- value; ex <- Gen.listOf(expectation);
        notify <- opt(Gen.zip(word, value))) yield
      (s"CREATE PIPE $n${look.fold("")(" DEDUPE_LOOKBACK_PERIOD " + _)} FROM ${q(src)} " +
        s"FORMAT $fmt SCHEMA ${q(ddl)} INTO ${if (lake) "LAKE " else ""}${q(tgt)} " +
        s"CHECKPOINT ${q(chk)}" + expectText(ex) +
        notify.fold("") { case (p, r) =>
          s" NOTIFICATION_PROVIDER $p NOTIFICATION_QUEUE_REFERENCE ${q(r)}" },
        CreatePipeCommand(n, src, fmt.toLowerCase, ddl, tgt, chk,
          sink = if (lake) "lake" else "parquet", notifyProvider = notify.map(_._1),
          notifyQueue = notify.map(_._2), lookbackDays = look, expectations = ex.map(_._2)))),
    "CREATE PIPE merge key" -> (for (n <- word; src <- value; fmt <- Gen.oneOf("CSV", "JSON");
        ddl <- value; k <- word; tgt <- value; chk <- value; ex <- Gen.listOf(expectation)) yield
      (s"CREATE PIPE $n FROM ${q(src)} FORMAT $fmt SCHEMA ${q(ddl)} MERGE KEY $k " +
        s"INTO LAKE ${q(tgt)} CHECKPOINT ${q(chk)}" + expectText(ex),
        CreatePipeCommand(n, src, fmt.toLowerCase, ddl, tgt, chk, sink = "merge",
          mergeKey = Some(k), expectations = ex.map(_._2)))),
    "CREATE PIPE lake source" -> (for (n <- word; src <- value; k <- opt(word); tgt <- value;
        chk <- value) yield
      (s"CREATE PIPE $n FROM LAKE ${q(src)}${k.fold("")(" MERGE KEY " + _)} " +
        s"INTO LAKE ${q(tgt)} CHECKPOINT ${q(chk)}",
        CreatePipeCommand(n, src, "lakesource", "", tgt, chk,
          sink = if (k.isDefined) "merge" else "lake", mergeKey = k))),
    "ALTER PIPE SET" -> (for (n <- word; on <- Gen.oneOf(true, false)) yield
      (s"ALTER PIPE $n SET PIPE_EXECUTION_RUNNING = ${if (on) "TRUE" else "FALSE"}",
        AlterPipeStatusCommand(n, on))),
    "ALTER PIPE definition" -> (for (n <- word; src <- value; ddl <- value; tgt <- value;
        chk <- value) yield
      (s"ALTER PIPE $n FROM ${q(src)} FORMAT CSV SCHEMA ${q(ddl)} INTO ${q(tgt)} CHECKPOINT ${q(chk)}",
        AlterPipeDefCommand(CreatePipeCommand(n, src, "csv", ddl, tgt, chk)))),
    "TRIGGER PIPE" -> (for (n <- word; b <- opt(num)) yield
      (s"TRIGGER PIPE $n${b.fold("")(" FOR BATCH " + _)}", TriggerPipeCommand(n, b))),
    "DROP PIPE" -> (for (n <- word; ie <- Gen.oneOf(true, false)) yield
      (s"DROP PIPE ${if (ie) "IF EXISTS " else ""}$n", DropPipeCommand(n, ie))),
    "SHOW PIPES" -> Gen.const(("SHOW PIPES", ShowPipesCommand(Nil))),
    "SHOW STREAMS" -> Gen.const(("SHOW STREAMS", ShowStreamsCommand(Nil))),
    "DESCRIBE PIPE" -> (for (n <- word; d <- Gen.oneOf("DESC", "DESCRIBE")) yield
      (s"$d PIPE $n", DescribePipeCommand(n, Nil))),

    // ---- lake tables ----
    "CREATE LAKE" -> (for (d <- value; spec <- opt(Gen.zip(word, small)); dist <- opt(cols);
        stats <- opt(cols); sort <- opt(Gen.zip(Gen.oneOf("SORT", "LOCALSORT"), cols));
        cluster <- opt(cols); single <- Gen.oneOf(true, false); sql <- query) yield {
      val specItems = spec.toSeq.flatMap { case (c, n) => Seq(s"bucket($n, $c)", s"day($c)") }
      (s"CREATE LAKE ${q(d)}" + spec.fold("")(_ => " PARTITION BY " + list(specItems)) +
        dist.fold("")(" DISTRIBUTE BY " + list(_)) + stats.fold("")(" STATS " + list(_)) +
        sort.fold("") { case (k, cs) => s" $k BY " + list(cs) } +
        cluster.fold("")(" CLUSTER BY " + list(_)) + (if (single) " WITH SINGLE WRITER" else "") +
        s" AS ${raw(sql)}",
        CreateLakeTableCommand(d, specItems, stats.getOrElse(Nil), sort.fold(Seq.empty[String])(_._2),
          sql, cluster.getOrElse(Nil), dist.getOrElse(Nil), single))
    }),
    "CREATE LAKE VIEW" -> (for (n <- word; d <- value; v <- opt(num); ts <- opt(num)) yield
      (s"CREATE LAKE VIEW $n FROM ${q(d)}${v.fold("")(" VERSION AS OF " + _)}" +
        ts.fold("")(t => s" TIMESTAMP AS OF '$t'"), CreateLakeViewCommand(n, d, v, ts))),
    "CREATE LAKE VIEW AT" -> (for (n <- word; d <- value; t <- refType; r <- name) yield
      (s"CREATE LAKE VIEW $n FROM ${q(d)} AT $t $r", CreateLakeViewAtRefCommand(n, d, r))),
    "CREATE LAKE CHANGES VIEW" -> (for (n <- word; d <- value; a <- num; b <- num) yield
      (s"CREATE LAKE CHANGES VIEW $n FROM ${q(d)} BETWEEN $a AND $b",
        LakeChangesViewCommand(n, d, a, b))),
    "INSERT INTO LAKE" -> (for (d <- value; b <- opt(name); sql <- query) yield
      (s"INSERT INTO LAKE ${q(d)}${b.fold("")(" AT BRANCH " + _)} ${raw(sql)}",
        b.fold[LogicalPlan](InsertLakeCommand(d, sql))(InsertLakeAtBranchCommand(d, _, sql)))),
    "DELETE FROM LAKE" -> (for (d <- value; b <- opt(name); c <- cond) yield
      (s"DELETE FROM LAKE ${q(d)}${b.fold("")(" AT BRANCH " + _)} WHERE ${raw(c)}",
        DeleteLakeCommand(d, c, b))),
    "UPDATE LAKE" -> (for (d <- value; b <- opt(name); s <- sets; c <- cond) yield
      (s"UPDATE LAKE ${q(d)}${b.fold("")(" AT BRANCH " + _)} SET ${raw(setText(s).replace("«", "").replace("»", ""))} " +
        s"WHERE ${raw(c)}", UpdateLakeCommand(d, setText(s).replace("«", "").replace("»", ""), c, b))),
    "MERGE INTO LAKE KEY" -> (for (d <- value; k <- word; sql <- query) yield
      (s"MERGE INTO LAKE ${q(d)} KEY $k USING ${raw(sql)}", MergeLakeCommand(d, k, sql))),
    "MERGE INTO LAKE ON" -> (for (d <- value; k <- word; sql <- query;
        m <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, matchedClause)); nm <- opt(opt(cond)))
      yield (s"MERGE INTO LAKE ${q(d)} ON $k USING (${raw(sql)}) " + m.map(_._1).mkString(" ") +
        nm.fold("")(c => " WHEN NOT MATCHED" + c.fold("")(x => s" AND ${raw(x)}") + " THEN INSERT *"),
        MergeLakeClausesCommand(d, k, sql, m.map(_._2), nm.map(WhenNotMatched(_))))),
    "MERGE BRANCH" -> (for (n <- name; d <- value; dry <- Gen.oneOf(true, false)) yield
      (s"MERGE BRANCH $n INTO LAKE ${q(d)}${if (dry) " DRY RUN" else ""}",
        if (dry) MergeBranchDryRunCommand(n, d, Nil) else MergeBranchCommand(n, d))),
    "TRUNCATE LAKE" -> value.map(d => (s"TRUNCATE LAKE ${q(d)}", TruncateLakeCommand(d, Nil))),
    "ROLLBACK LAKE" -> (for (d <- value; v <- num) yield
      (s"ROLLBACK LAKE ${q(d)} TO VERSION $v", RollbackLakeCommand(d, v))),
    "OPTIMIZE LAKE" -> (for (d <- value; z <- opt(cols); o <- opt(Gen.nonEmptyListOf(table));
        f <- opt(small); w <- opt(cond)) yield
      (s"OPTIMIZE LAKE ${q(d)}" + z.fold("")(" ZORDER BY " + list(_)) +
        o.fold("")(" ORDER BY " + _.mkString(", ")) + f.fold("")(n => s" INTO $n FILES") +
        w.fold("")(c => s" WHERE ${raw(c)}"),
        OptimizeLakeCommand(d, o.getOrElse(Nil), z.getOrElse(Nil), f.getOrElse(1), w))),
    "OPTIMIZE LAKE REWRITE MANIFESTS" -> value.map(d =>
      (s"OPTIMIZE LAKE ${q(d)} REWRITE MANIFESTS", RewriteManifestsCommand(d, Nil))),
    "OPTIMIZE LAKE REWRITE DATA" -> (for (d <- value; bin <- Gen.oneOf(true, false);
        c <- opt(cond); o <- opt(small)) yield
      (s"OPTIMIZE LAKE ${q(d)} REWRITE DATA${if (bin) " USING BIN_PACK" else ""}" +
        c.fold("")(x => s" FOR PARTITIONS (${raw(x)})") +
        o.fold("")(n => s" (${raw(s"MIN_INPUT_FILES = $n, TARGET_FILE_SIZE_MB = 2")})"),
        OptimizeRewriteDataCommand(d, c,
          o.fold("")(n => s"MIN_INPUT_FILES = $n, TARGET_FILE_SIZE_MB = 2"), Nil))),
    "VACUUM LAKE" -> (for (d <- value; ot <- opt(num); r <- opt(small); g <- opt(num)) yield
      (s"VACUUM LAKE ${q(d)}" + ot.fold("")(t => s" OLDER_THAN '$t'") +
        r.fold("")(n => s" RETAIN $n VERSIONS") + g.fold("")(" GRACE " + _),
        VacuumLakeCommand(d, r.getOrElse(if (ot.isDefined) 1 else 2), g.getOrElse(3600000L), ot))),
    "VACUUM LAKE REMOVE ORPHAN FILES" -> (for (d <- value; ot <- opt(num); l <- opt(value)) yield
      (s"VACUUM LAKE ${q(d)} REMOVE ORPHAN FILES" + ot.fold("")(t => s" OLDER_THAN '$t'") +
        l.fold("")(x => s" LOCATION ${q(x)}"), RemoveOrphanFilesCommand(d, ot, l))),
    "VACUUM CATALOG" -> (for (d <- value; ot <- opt(num); r <- opt(small); g <- opt(num)) yield
      (s"VACUUM CATALOG ${q(d)}" + ot.fold("")(t => s" OLDER_THAN '$t'") +
        r.fold("")(n => s" RETAIN $n VERSIONS") + g.fold("")(" GRACE " + _),
        VacuumCatalogCommand(d, r.getOrElse(if (ot.isDefined) 1 else 2), g.getOrElse(3600000L),
          ot, Nil))),
    "EXPORT LAKE" -> (for (s <- value; d <- value; v <- opt(num); p <- opt(cols);
        f <- opt(Gen.oneOf("ICEBERG", "DELTA")); a <- Gen.oneOf(true, false)) yield
      (s"EXPORT LAKE ${q(s)} TO ${q(d)}" + v.fold("")(" VERSION AS OF " + _) +
        p.fold("")(" PARTITION BY " + list(_)) + f.fold("")(" FORMAT " + _) +
        (if (a) " APPEND" else ""),
        ExportLakeCommand(s, d, v, p.getOrElse(Nil), f.getOrElse("ICEBERG"), a))),
    "ANALYZE LAKE" -> (for (d <- value; cs <- opt(cols); stats <- opt(opt(opt(small)))) yield
      (s"ANALYZE LAKE ${q(d)}" + cs.fold("")(" FOR COLUMNS " + list(_)) +
        stats.fold("")(h => " COMPUTE STATISTICS" + h.fold("")(b =>
          " WITH HISTOGRAM" + b.fold("")(n => s" $n BUCKETS"))),
        AnalyzeLakeCommand(d, Nil, persist = stats.isDefined, histogram = stats.exists(_.isDefined),
          buckets = stats.flatten.flatten.getOrElse(16), columns = cs.getOrElse(Nil)))),
    "COPY INTO" -> (for (t <- value; s <- value; fmt <- Gen.oneOf("CSV", "json"); ddl <- value;
        e <- opt(Gen.oneOf("CONTINUE", "abort"))) yield
      (s"COPY INTO ${q(t)} FROM ${q(s)} FORMAT $fmt SCHEMA ${q(ddl)}" + e.fold("")(" ON_ERROR " + _),
        CopyIntoCommand(t, s, fmt.toLowerCase, ddl, e.fold("continue")(_.toLowerCase)))),
    "SHOW FILES IN LAKE" -> value.map(d =>
      (s"SHOW FILES IN LAKE ${q(d)}", ShowFilesLakeCommand(d, Nil))),
    "SHOW TBLPROPERTIES IN LAKE" -> value.map(d =>
      (s"SHOW TBLPROPERTIES IN LAKE ${q(d)}", ShowLakePropertiesCommand(d, Nil))),
    "SHOW CREATE LAKE" -> (for (d <- value; r <- opt(Gen.zip(refType, name))) yield
      (s"SHOW CREATE LAKE ${q(d)}" + r.fold("") { case (t, n) => s" AT $t $n" },
        ShowCreateLakeCommand(d, Nil, r.map(_._2)))),
    "SHOW CREATE VIEW" -> (for (n <- word; lake <- Gen.oneOf("", "LAKE ")) yield
      (s"SHOW CREATE ${lake}VIEW $n", ShowCreateViewCommand(n, Nil))),
    "DESCRIBE LAKE" -> (for (d <- value; r <- opt(Gen.zip(refType, name))) yield
      (s"DESCRIBE LAKE ${q(d)}" + r.fold("") { case (t, n) => s" AT $t $n" },
        DescribeLakeCommand(d, Nil, r.map(_._2)))),

    // ---- ALTER <dataset> ----
    "ALTER REFRESH REFLECTIONS" -> (for (k <- Gen.oneOf("LAKE", "TABLE"); d <- value) yield
      (s"ALTER $k ${q(d)} REFRESH REFLECTIONS", RefreshReflectionsForDatasetCommand(d, Nil))),
    "ALTER TABLE REFRESH METADATA" -> (for (t <- table; tick <- Gen.oneOf(true, false)) yield
      (s"ALTER TABLE ${if (tick) s"`$t`" else t} REFRESH METADATA", RefreshMetadataCommand(t))),
    "ALTER REFRESH METADATA FOR" -> (for (k <- Gen.oneOf("TABLE", "PDS", "DATASET");
        t <- Gen.oneOf(word.map(w => (w, w)), value.map(v => (q(v), v)));
        opts <- refreshOptions) yield
      (s"ALTER $k ${t._1} REFRESH METADATA ${opts._1}", opts._2(t._2))),
    "REFRESH DATASET" -> (for (t <- Gen.oneOf(word.map(w => (w, w)), value.map(v => (q(v), v)));
        opts <- Gen.oneOf(refreshOptions, Gen.const(("", refreshCommand(_: String))))) yield
      (s"REFRESH DATASET ${t._1} ${opts._1}", opts._2(t._2))),
    "ALTER FORGET METADATA" -> (for (k <- Gen.oneOf("TABLE", "PDS", "DATASET"); t <- table) yield
      (s"ALTER $k $t FORGET METADATA", ForgetMetadataCommand(t, Nil))),
    "ALTER ACCELERATION" -> (for (k <- Gen.oneOf("TABLE", "LAKE", "PDS", "VDS", "DATASET");
        t <- Gen.oneOf(table.map(w => (w, w)), value.map(v => (q(v), v)));
        on <- Gen.oneOf(true, false); kind <- Gen.oneOf("RAW", "AGGREGATE")) yield
      (s"ALTER $k ${t._1} ${if (on) "ENABLE" else "DISABLE"} $kind ACCELERATION",
        AccelToggleCommand(t._2, kind, on, Nil))),
    "ALTER SCHEMA LEARNING" -> (for (k <- Gen.oneOf("TABLE", "PDS", "DATASET"); t <- table;
        on <- Gen.oneOf(true, false)) yield
      (s"ALTER $k $t ${if (on) "ENABLE" else "DISABLE"} SCHEMA LEARNING",
        ToggleSchemaLearningCommand(t, on, Nil))),
    "ALTER LAKE APPROXIMATE STATS" -> (for (d <- value; on <- Gen.oneOf(true, false)) yield
      (s"ALTER LAKE ${q(d)} ${if (on) "ENABLE" else "DISABLE"} APPROXIMATE STATS",
        SetApproxStatsCommand(d, on))),
    "ALTER TABLE CREATE AGGREGATE REFLECTION" -> (for (t <- table; n <- word; p <- value;
        dims <- cols; ms <- cols; pb <- opt(cols)) yield
      (s"ALTER TABLE $t CREATE AGGREGATE REFLECTION $n USING PATH ${q(p)} DIMENSIONS ${list(dims)} " +
        s"MEASURES ${list(ms)}" + pb.fold("")(" PARTITION BY " + list(_)),
        CreateAggReflectionCommand(t, n, p, dims, ms, pb.getOrElse(Nil), Nil))),
    "ALTER TABLE CREATE RAW REFLECTION" -> (for (t <- table; n <- word; p <- value;
        display <- cols; pb <- opt(cols)) yield
      (s"ALTER TABLE $t CREATE RAW REFLECTION $n USING PATH ${q(p)} DISPLAY ${list(display)}" +
        pb.fold("")(" PARTITION BY " + list(_)),
        CreateRawReflectionCommand(t, n, p, display, pb.getOrElse(Nil), Nil))),
    "ALTER ADD ROW ACCESS POLICY" -> (for (k <- datasetKind; t <- table; fn <- word; args <- cols)
      yield (s"ALTER $k $t ADD ROW ACCESS POLICY $fn${list(args)}",
        PolicyCommand(t, "add_row", None, fn, args, Nil))),
    "ALTER DROP ROW ACCESS POLICY" -> (for (k <- datasetKind; t <- table; fn <- word;
        args <- opt(cols)) yield
      (s"ALTER $k $t DROP ROW ACCESS POLICY $fn${args.fold("")(list)}",
        PolicyCommand(t, "drop_row", None, fn, Nil, Nil))),
    "ALTER SET MASKING POLICY" -> (for (k <- datasetKind; t <- table; v <- Gen.oneOf("MODIFY",
        "CHANGE", "ALTER"); column <- Gen.oneOf("", "COLUMN "); c <- word; fn <- word;
        args <- cols) yield
      (s"ALTER $k $t $v $column$c SET MASKING POLICY $fn ${list(args)}",
        PolicyCommand(t, "set_mask", Some(c), fn, args, Nil))),
    "ALTER UNSET MASKING POLICY" -> (for (k <- datasetKind; t <- table; v <- Gen.oneOf("MODIFY",
        "CHANGE", "ALTER"); c <- word; fn <- word; parens <- Gen.oneOf("", "()")) yield
      (s"ALTER $k $t $v COLUMN $c UNSET MASKING POLICY $fn$parens",
        PolicyCommand(t, "unset_mask", Some(c), fn, Nil, Nil))),
    "ALTER ROUTE REFLECTIONS" -> (for (k <- Gen.oneOf("LAKE", "FOLDER"); d <- value;
        all <- Gen.oneOf("", "ALL "); dflt <- Gen.oneOf(true, false);
        target <- Gen.oneOf("QUEUE", "ENGINE"); n <- opt(name)) yield
      (s"ALTER $k ${q(d)} ROUTE ${all}REFLECTIONS TO ${if (dflt) "DEFAULT " else ""}$target" +
        n.fold("")(" " + _), RouteReflectionsCommand(d, dflt, n, Nil))),
    "ALTER LAKE SET PARTITION SPEC" -> (for (d <- value; c <- word; n <- small;
        empty <- Gen.oneOf(true, false)) yield {
      val spec = if (empty) Nil else Seq(s"bucket($n, $c)", c)
      (s"ALTER LAKE ${q(d)} SET PARTITION SPEC ${list(spec)}", SetLakePartitionSpecCommand(d, spec))
    }),
    "ALTER LAKE SET SORT ORDER" -> (for (d <- value; cs <- cols) yield
      (s"ALTER LAKE ${q(d)} SET SORT ORDER ${list(cs)}", SetLakeSortOrderCommand(d, cs))),
    "ALTER LAKE SET TBLPROPERTIES" -> (for (d <- value;
        kv <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.zip(value, value)))) yield
      (s"ALTER LAKE ${q(d)} SET TBLPROPERTIES " +
        kv.map { case (k, v) => s"${q(k)} = ${q(v)}" }.mkString("(", ", ", ")"),
        SetLakePropertiesCommand(d, kv.toMap))),
    "ALTER LAKE UNSET TBLPROPERTIES" -> (for (d <- value;
        ks <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, value))) yield
      (s"ALTER LAKE ${q(d)} UNSET TBLPROPERTIES " + ks.map(q).mkString("(", ", ", ")"),
        UnsetLakePropertiesCommand(d, ks))),
    "ALTER LAKE CLUSTER BY" -> (for (d <- value; cs <- cols) yield
      (s"ALTER LAKE ${q(d)} CLUSTER BY ${list(cs)}", ClusterKeyCommand(d, cs, Nil))),
    "ALTER LAKE DROP CLUSTERING KEY" -> value.map(d =>
      (s"ALTER LAKE ${q(d)} DROP CLUSTERING KEY", ClusterKeyCommand(d, Nil, Nil))),
    "ALTER LAKE ADD PRIMARY KEY" -> (for (d <- value; cs <- cols) yield
      (s"ALTER LAKE ${q(d)} ADD PRIMARY KEY ${list(cs)}", AlterLakePkCommand(d, cs, Nil))),
    "ALTER LAKE DROP PRIMARY KEY" -> value.map(d =>
      (s"ALTER LAKE ${q(d)} DROP PRIMARY KEY", AlterLakePkCommand(d, Nil, Nil))),
    "ALTER LAKE RENAME COLUMN" -> (for (d <- value; a <- word; b <- word) yield
      (s"ALTER LAKE ${q(d)} RENAME COLUMN $a TO $b", RenameLakeColumnCommand(d, a, b))),
    "ALTER LAKE ADD COLUMN" -> (for (d <- value; c <- word; t <- dataType) yield
      (s"ALTER LAKE ${q(d)} ADD COLUMN $c ${raw(t)}", AddLakeColumnCommand(d, c, t))),
    "ALTER LAKE DROP COLUMN" -> (for (d <- value; c <- word) yield
      (s"ALTER LAKE ${q(d)} DROP COLUMN $c", DropLakeColumnCommand(d, c))),
    "ALTER LAKE CHANGE COLUMN" -> (for (d <- value; v <- Gen.oneOf("CHANGE", "MODIFY");
        column <- Gen.oneOf("", "COLUMN "); a <- word; b <- word; t <- dataType) yield
      (s"ALTER LAKE ${q(d)} $v $column$a $b ${raw(t)}", ChangeLakeColumnCommand(d, a, b, t, Nil))),

    // ---- branches, tags, session version context ----
    "CREATE BRANCH|TAG" -> (for (t <- refType; n <- name; d <- value; v <- opt(num)) yield
      (s"CREATE $t $n FROM LAKE ${q(d)}${v.fold("")(" VERSION AS OF " + _)}",
        CreateRefCommand(t.toLowerCase, n, d, v))),
    "DROP BRANCH|TAG" -> (for (t <- refType; n <- name; d <- value) yield
      (s"DROP $t $n FROM LAKE ${q(d)}", DropRefCommand(t.toLowerCase, n, d))),
    "ALTER BRANCH|TAG ASSIGN" -> (for (t <- refType; n <- name; v <- num; d <- value) yield
      (s"ALTER $t $n ASSIGN VERSION $v IN LAKE ${q(d)}", AssignRefCommand(t.toLowerCase, n, v, d))),
    "SHOW REFS" -> value.map(d => (s"SHOW REFS FROM LAKE ${q(d)}", ShowRefsCommand(d, Nil))),
    "SHOW BRANCHES|TAGS" -> (for (k <- Gen.oneOf("BRANCHES", "TAGS"); d <- value) yield
      (s"SHOW $k FROM LAKE ${q(d)}", ShowRefsCommand(d, Nil,
        Some(if (k == "TAGS") "tag" else "branch")))),
    "USE BRANCH|TAG" -> (for (t <- refType; n <- name; d <- value) yield
      (s"USE $t $n IN LAKE ${q(d)}", UseRefCommand(t.toLowerCase, n, d, Nil))),
    "USE VERSION" -> (for (v <- num; d <- value) yield
      (s"USE VERSION $v IN LAKE ${q(d)}", UseVersionCommand(v, d, Nil))),
    "USE DEFAULT" -> value.map(d => (s"USE DEFAULT IN LAKE ${q(d)}", UseDefaultCommand(d, Nil))),
    "SHOW LOGS" -> (for (k <- Gen.oneOf("LOG", "LOGS"); r <- opt(Gen.zip(refType, name));
        d <- value) yield
      (s"SHOW $k${r.fold("") { case (t, n) => s" AT $t $n" }} IN LAKE ${q(d)}",
        ShowLogsCommand(r.map(_._1.toLowerCase), r.map(_._2), d, Nil))),

    // ---- users, roles, privileges ----
    "GRANT|REVOKE ROLE" -> (for (g <- Gen.oneOf(true, false); r <- name; u <- name) yield
      (if (g) s"GRANT ROLE $r TO USER $u" else s"REVOKE ROLE $r FROM USER $u",
        GrantRoleCommand(r, u, g))),
    "GRANT|REVOKE ON BRANCH|TAG" -> (for (g <- Gen.oneOf(true, false); ps <- privs;
        t <- refType; r <- name; d <- value; k <- granteeKind; who <- name) yield
      (s"${verb(g)} ${ps.mkString(", ")} ON $t $r IN CATALOG ${q(d)} ${to(g)} $k $who",
        GrantOnRefCommand(ps, t.toLowerCase, r, d, k, who, g))),
    "GRANT|REVOKE ON CATALOG" -> (for (g <- Gen.oneOf(true, false); ps <- privs; d <- value;
        k <- granteeKind; who <- name) yield
      (s"${verb(g)} ${ps.mkString(", ")} ON CATALOG ${q(d)} ${to(g)} $k $who",
        GrantOnCatalogCommand(ps, d, k, who, g))),
    "GRANT|REVOKE ON SCRIPT" -> (for (g <- Gen.oneOf(true, false); ps <- privs; n <- name;
        k <- granteeKind; who <- name) yield
      (s"${verb(g)} ${ps.mkString(", ")} ON SCRIPT $n ${to(g)} $k $who",
        GrantOnScriptCommand(ps, n, k, who, g))),
    "GRANT|REVOKE ON ALL DATASETS" -> (for (g <- Gen.oneOf(true, false);
        a <- Gen.oneOf("SELECT", "INSERT", "UPDATE", "DELETE", "ALTER", "DROP", "ALL");
        c <- Gen.oneOf("FOLDER", "SOURCE"); t <- Gen.oneOf(name.map(w => (w, w)),
          value.map(v => (q(v), v))); k <- granteeKind; who <- name) yield
      (s"${verb(g)} $a ON ALL DATASETS IN $c ${t._1} ${to(g)} $k $who",
        GrantAllDatasetsCommand(a, c.toLowerCase, t._2, k, who, g))),
    "GRANT|REVOKE ON object" -> (for (g <- Gen.oneOf(true, false);
        a <- Gen.oneOf("SELECT", "INSERT", "UPDATE", "DELETE", "ALTER", "DROP", "EXECUTE", "ALL");
        o <- grantObject; k <- granteeKind; who <- name) yield
      (s"${verb(g)} $a ON ${o._1} ${to(g)} $k $who", GrantCommand(a, o._2, k, who, g))),
    "GRANT OWNERSHIP" -> (for (o <- grantObject; k <- granteeKind; who <- name) yield
      (s"GRANT OWNERSHIP ON ${o._1} TO $k $who", GrantOwnershipCommand(o._2, k, who, Nil))),
    "SHOW GRANTS" -> (for (who <- opt(name)) yield
      (s"SHOW GRANTS${who.fold("")(" FOR " + _)}", ShowGrantsCommand(who, Nil))),
    "SHOW GRANTS ON object" -> grantObject.map(o =>
      (s"SHOW GRANTS ON ${o._1}", ShowGrantsOnCommand(o._2, Nil))),
    "SHOW GRANTS ON SCRIPT" -> name.map(n =>
      (s"SHOW GRANTS ON SCRIPT $n", ShowGrantsOnScriptCommand(n, Nil))),
    "SHOW GRANTS ON BRANCH|TAG" -> (for (t <- refType; r <- name; d <- value) yield
      (s"SHOW GRANTS ON $t $r IN CATALOG ${q(d)}", ShowGrantsOnRefCommand(t.toLowerCase, r, d, Nil))),
    "CREATE USER" -> (for (n <- name; pw <- value; admin <- Gen.oneOf(true, false)) yield
      (s"CREATE USER $n PASSWORD ${q(pw)}${if (admin) " ADMIN" else ""}",
        CreateUserCommand(n, pw, admin, Nil))),
    "ALTER USER" -> (for (n <- name; pw <- value) yield
      (s"ALTER USER $n SET PASSWORD ${q(pw)}", AlterUserCommand(n, pw, Nil))),
    "DROP USER" -> name.map(n => (s"DROP USER $n", DropUserCommand(n))),
    "CREATE ROLE" -> name.map(n => (s"CREATE ROLE $n", CreateRoleCommand(n, Nil))),
    "DROP ROLE" -> name.map(n => (s"DROP ROLE $n", DropRoleCommand(n))),
    "AUTHENTICATE USER" -> (for (n <- name; pw <- value) yield
      (s"AUTHENTICATE USER $n PASSWORD ${q(pw)}", AuthenticateCommand(n, pw, Nil))),
    "ALTER AUTH" -> Gen.oneOf(true, false).map(on =>
      (s"ALTER AUTH ENFORCE ${if (on) "ON" else "OFF"}", AlterAuthCommand(on))),
    "SHOW POLICIES" -> Gen.const(("SHOW POLICIES", ShowPoliciesCommand(Nil))),

    // ---- scripts ----
    "CREATE|ALTER SCRIPT" -> (for (create <- Gen.oneOf(true, false); n <- name; sql <- query) yield
      (s"${if (create) "CREATE" else "ALTER"} SCRIPT $n AS ${q(sql)}",
        ScriptDdlCommand(n, Some(sql), create, Nil))),
    "DROP SCRIPT" -> name.map(n => (s"DROP SCRIPT $n", DropScriptCommand(n))),
    "DESCRIBE SCRIPT" -> name.map(n => (s"DESCRIBE SCRIPT $n", DescribeScriptCommand(n, Nil))),
    "SHOW SCRIPTS" -> opt(small).map(l =>
      (s"SHOW SCRIPTS${l.fold("")(" LIMIT " + _)}", ShowScriptsCommand(l, Nil))),

    // ---- workload management ----
    "CREATE|ALTER QUEUE" -> (for (create <- Gen.oneOf(true, false); n <- name; s <- small;
        t <- opt(num)) yield
      (s"${if (create) "CREATE" else "ALTER"} QUEUE $n SLOTS $s${t.fold("")(" TIMEOUT " + _)}",
        if (create) CreateQueueCommand(n, s, t) else AlterQueueCommand(n, s, t))),
    "DROP QUEUE" -> name.map(n => (s"DROP QUEUE $n", DropQueueCommand(n))),
    "SHOW QUEUES" -> Gen.const(("SHOW QUEUES", ShowQueuesCommand(Nil))),
    "ALTER ENGINE" -> (for (n <- name; a <- small; b <- small) yield
      (s"ALTER ENGINE $n SET (${raw(s"MIN_REPLICAS = $a, MAX_REPLICAS = $b")})",
        AlterEngineCommand(n, s"MIN_REPLICAS = $a, MAX_REPLICAS = $b", Nil))),
    "SHOW ENGINES" -> Gen.const(("SHOW ENGINES", ShowEnginesCommand(Nil))),
    "CREATE ROUTING RULE" -> (for (n <- name; p <- small; c <- cond; qn <- name) yield
      (s"CREATE ROUTING RULE $n PRIORITY $p WHEN ${raw(c)} ROUTE TO $qn",
        CreateRoutingRuleCommand(n, p, c, qn))),
    "DROP ROUTING RULE" -> name.map(n => (s"DROP ROUTING RULE $n", DropRoutingRuleCommand(n))),
    "SHOW ROUTING RULES" -> Gen.const(("SHOW ROUTING RULES", ShowRoutingRulesCommand(Nil))),
    "CANCEL QUERY" -> num.map(id => (s"CANCEL QUERY $id", CancelQueryCommand(id, Nil))),
    "CLEAR CACHE" -> (for (session <- Gen.oneOf("", "ALTER SESSION "); plan <- Gen.oneOf(true, false))
      yield (s"${session}CLEAR ${if (plan) "PLAN" else "RESULT"} CACHE",
        if (plan) ClearPlanCacheCommand() else ClearResultCacheCommand())),

    // ---- catalog ----
    "CREATE|DROP FOLDER" -> (for (create <- Gen.oneOf(true, false); n <- table;
        cond <- Gen.oneOf(true, false)) yield
      (if (create) s"CREATE FOLDER ${if (cond) "IF NOT EXISTS " else ""}$n"
       else s"DROP FOLDER ${if (cond) "IF EXISTS " else ""}$n",
        FolderCommand(n, create, cond, Nil))),
    "CREATE SOURCE" -> (for (ine <- Gen.oneOf(true, false); n <- name; kind <- word;
        props <- opt(Gen.listOf(Gen.zip(value, value)))) yield
      (s"CREATE SOURCE ${if (ine) "IF NOT EXISTS " else ""}$n TYPE $kind" + props.fold("")(ps =>
        " " + ps.map { case (k, v) => s"${q(k)} = ${q(v)}" }.mkString("(", ", ", ")")),
        CreateSourceCommand(n, kind, props.getOrElse(Nil).toMap, ine, Nil))),
    "DROP SOURCE" -> name.map(n => (s"DROP SOURCE $n", DropSourceCommand(n))),
    "ALTER SOURCE" -> (for (n <- name; refresh <- Gen.oneOf(true, false)) yield
      (s"ALTER SOURCE $n ${if (refresh) "REFRESH STATUS" else "CLEAR PERMISSION CACHE"}",
        if (refresh) RefreshSourceStatusCommand(n, Nil) else ClearPermissionCacheCommand(n, Nil))),
    "SHOW SOURCES" -> opt(small).map(l =>
      (s"SHOW SOURCES${l.fold("")(" LIMIT " + _)}", ShowSourcesCommand(l, Nil)))
  )

  private lazy val expectation: Gen[(String, PipeExpectation)] = for (n <- word; c <- cond;
      a <- opt(Gen.oneOf("WARN", "drop", "FAIL"))) yield
    (s"$n AS (${raw(c)})${a.fold("")(" ON VIOLATION " + _)}",
      PipeExpectation(n, c, a.fold("warn")(_.toLowerCase)))
  private def expectText(ex: Seq[(String, PipeExpectation)]): String =
    if (ex.isEmpty) "" else " EXPECT " + ex.map(_._1).mkString(", ")
  private lazy val matchedClause: Gen[(String, WhenMatched)] = for (c <- opt(cond);
      a <- Gen.oneOf(Gen.const(Left(true)), Gen.const(Left(false)), sets.map(Right(_)))) yield {
    val head = "WHEN MATCHED" + c.fold("")(x => s" AND ${raw(x)}") + " THEN "
    a match {
      case Left(true) => (head + "DELETE", WhenMatched(c, MatchedAction.Delete))
      case Left(false) => (head + "UPDATE SET *", WhenMatched(c, MatchedAction.UpdateAll))
      case Right(s) => (head + "UPDATE SET " + setText(s), WhenMatched(c, MatchedAction.Update(s)))
    }
  }
  private lazy val datasetKind = Gen.oneOf("TABLE", "VIEW", "VDS", "PDS", "DATASET")
  private lazy val dataType = Gen.oneOf("INT", "BIGINT", "DECIMAL(12, 2)", "STRING",
    "ARRAY<STRING>", "MAP<STRING, INT>")
  private lazy val privs = Gen.choose(1, 3).flatMap(Gen.listOfN(_,
    Gen.oneOf("USAGE", "COMMIT", "CREATE_BRANCH", "view", "MODIFY", "MANAGE_GRANTS")))
  private lazy val granteeKind = Gen.oneOf("USER", "ROLE")
  private def verb(granting: Boolean) = if (granting) "GRANT" else "REVOKE"
  private def to(granting: Boolean) = if (granting) "TO" else "FROM"
  private lazy val grantObject: Gen[(String, String)] = Gen.oneOf(
    value.map(v => (q(v), v)), table.map(t => (t, t)), Gen.const(("*", "*")),
    for (a <- word; b <- word) yield (s"$a/$b", s"$a/$b"))
  private def refreshCommand(target: String): RefreshDatasetCommand =
    RefreshDatasetCommand(target, None, None, None, None, None, None, errorOnConcurrent = false, Nil)
  // <refresh options>: a non-empty, in-order subset
  private lazy val refreshOptions: Gen[(String, String => LogicalPlan)] = for {
    all <- opt(Gen.oneOf("FILES", "PARTITIONS"))
    files <- opt(Gen.choose(1, 3).flatMap(Gen.listOfN(_, value)))
    parts <- opt(Gen.choose(1, 2).flatMap(Gen.listOfN(_, Gen.zip(word, value))))
    regex <- opt(value)
    promo <- opt(Gen.oneOf("AUTO", "AVOID"))
    force <- opt(Gen.oneOf("FORCE", "LAZY"))
    missing <- opt(Gen.oneOf("DELETE", "MAINTAIN"))
    err <- Gen.oneOf(true, false)
    if (all ++ files ++ parts ++ regex ++ promo ++ force ++ missing).nonEmpty || err
  } yield (
    Seq(all.map("FOR ALL " + _), files.map(f => "FOR FILES " + f.map(q).mkString("(", ", ", ")")),
      parts.map(p => "FOR PARTITIONS " + p.map { case (c, v) => s"$c = ${q(v)}" }
        .mkString("(", ", ", ")")), regex.map(r => s"FOR REGEX ${q(r)}"),
      promo.map(_ + " PROMOTION"), force.map(_ + " UPDATE"), missing.map(_ + " WHEN MISSING"),
      if (err) Some("ERROR ON CONCURRENT REFRESH") else None).flatten.mkString(" "),
    (t: String) => RefreshDatasetCommand(t, files, parts, regex, promo.map(_ == "AUTO"),
      force.map(_ == "FORCE"), missing.map(_ == "DELETE"), err, Nil))

  private val separator: Gen[String] =
    Gen.oneOf(" ", "  ", "\n", "\t ", " /* c */ ", " -- note\n", "/**/", " /* a /* nested */ b */ ")

  /** The template with each space outside quotes and «…» replaced by
    * noise, noise before it, and an optional `;` plus noise after it;
    * keywords lower-cased when `lower`. */
  private def noisy(template: String, lower: Boolean): Gen[String] = {
    val spaces = template.count(_ == ' ')
    for {
      seps <- Gen.listOfN(spaces + 2, separator)
      semi <- Gen.oneOf("", ";", " ; ", "; -- done")
    } yield {
      val out = new StringBuilder(seps.head)
      var k = 1
      var quoted = false
      var verbatim = false
      template.foreach {
        case '«' => verbatim = true
        case '»' => verbatim = false
        case ch if verbatim => out += ch
        case '\'' => quoted = !quoted; out += '\''
        case ' ' if !quoted => out ++= seps(k); k += 1
        case ch => out += (if (lower && !quoted) ch.toLower else ch)
      }
      out.toString + semi + seps.last.stripLineEnd
    }
  }

  private def fields(p: Product): Seq[(String, Any)] =
    p.productElementNames.zip(p.productIterator).filterNot(_._1 == "output").toSeq

  /** Equal up to `output`; with lower-cased keywords, a keyword the
    * command keeps as written (GRANT's USER|ROLE, ACCELERATION's RAW|…)
    * may come back lower-cased. */
  private def same(lower: Boolean)(got: Any, want: Any): Boolean = (got, want) match {
    case (g: String, w: String) =>
      g == w || lower && w.forall(c => c.isUpper || c == '_') && g == w.toLowerCase
    case (g: Map[_, _], w: Map[_, _]) => g == w
    case (g: Seq[_], w: Seq[_]) =>
      g.size == w.size && g.zip(w).forall { case (a, b) => same(lower)(a, b) }
    case (g: Product, w: Product) =>
      g.getClass == w.getClass && fields(g).size == fields(w).size &&
        fields(g).zip(fields(w)).forall { case ((_, a), (_, b)) => same(lower)(a, b) }
    case _ => got == want
  }

  forms.foreach { case (label, gen) =>
    test(s"grammar property: $label") {
      val parser = spark.sessionState.sqlParser
      val cases = for ((template, want) <- gen; lower <- Gen.oneOf(false, true);
                       text <- noisy(template, lower)) yield (text, want, lower)
      val drawn = samples(cases, 25)
      assert(drawn.nonEmpty)
      drawn.foreach { case (text, want, lower) =>
        val got = parser.parsePlan(text)
        assert(same(lower)(got, want), s"\n  text: $text\n  got:  $got\n  want: $want")
      }
    }
  }

  test("grammar property: RUN SCRIPT resolves to the saved statement") {
    graft.catalog.Scripts.clear()
    try {
      spark.sql("CREATE SCRIPT prop_run AS 'SHOW PIPES'")
      samples(Gen.oneOf(false, true).flatMap(l => noisy("RUN SCRIPT prop_run", l)), 10)
        .foreach { text =>
          assert(spark.sessionState.sqlParser.parsePlan(text).isInstanceOf[ShowPipesCommand], text)
        }
    } finally graft.catalog.Scripts.clear()
  }

  test("a statement no rule accepts reaches Spark's parser unchanged") {
    val parser = spark.sessionState.sqlParser
    Seq("SELECT 1 AS x", "CREATE TABLE grammar_t (x INT) USING parquet",
      "ALTER TABLE grammar_t ADD COLUMNS (y INT)", "SHOW TBLPROPERTIES grammar_t",
      "DESCRIBE grammar_t", "INSERT INTO grammar_t VALUES (1)", "USE default",
      "EXPLAIN SELECT 1").foreach { text =>
      assert(!parser.parsePlan(text).getClass.getName.startsWith("graft."), text)
    }
  }
}

package graft.sqlext

import java.util.Locale

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.sources.SnapshotTable.{MatchedAction, WhenMatched, WhenNotMatched}
import graft.streaming.PipeExpectation

/** The lexical scan every SQL-text consumer in the extension layer shares:
  * the statement grammar, the QUALIFY rewrite and positional-parameter
  * binding ([[graft.Graft.sql]]). */
private[graft] object SqlTokens {

  /** One token of a statement. `kind` is 'a' for a word (letters, digits,
    * `_`), the opening quote for a closed `'…'`, `"…"` or backtick literal,
    * 0 for a literal left open at the end of the text, and the character
    * itself for punctuation. `depth` is the parenthesis depth the token sits
    * at; a parenthesis sits outside the pair it delimits. Comments and
    * whitespace produce no tokens. */
  final case class Tok(kind: Char, start: Int, end: Int, depth: Int)

  def tokenize(s: String): IndexedSeq[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    var depth = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (Character.isWhitespace(ch)) i += 1
      else if (s.startsWith("--", i)) {
        val nl = s.indexOf('\n', i)
        i = if (nl < 0) s.length else nl + 1
      } else if (s.startsWith("/*", i)) i = commentEnd(s, i)
      else {
        val (kind, end) =
          if (isWordChar(ch)) {
            var j = i + 1
            while (j < s.length && isWordChar(s.charAt(j))) j += 1
            ('a', j)
          } else if (ch == '\'' || ch == '"' || ch == '`') quoteEnd(s, i)
          else (ch, i + 1)
        if (ch == ')') depth -= 1
        out += Tok(kind, i, end, depth)
        if (ch == '(') depth += 1
        i = end
      }
    }
    out.result()
  }

  private def isWordChar(ch: Char): Boolean = Character.isLetterOrDigit(ch) || ch == '_'

  /** Bracketed comments nest, as in Spark's lexer. */
  private def commentEnd(s: String, from: Int): Int = {
    var depth = 0
    var i = from
    while (i < s.length) {
      if (s.startsWith("/*", i)) { depth += 1; i += 2 }
      else if (s.startsWith("*/", i)) {
        depth -= 1; i += 2
        if (depth == 0) return i
      } else i += 1
    }
    s.length
  }

  /** A doubled quote stands for itself; inside a string a backslash escapes
    * the next character (Spark's default literal dialect). */
  private def quoteEnd(s: String, from: Int): (Char, Int) = {
    val q = s.charAt(from)
    var i = from + 1
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '\\' && q != '`') i += 2
      else if (ch != q) i += 1
      else if (i + 1 < s.length && s.charAt(i + 1) == q) i += 2
      else return (q, i + 1)
    }
    (0.toChar, s.length)
  }
}

/** Thrown by a grammar rule at a token it does not expect: the statement
  * is not graft DDL and goes to Spark's parser unchanged. */
private[sqlext] object NoMatch extends RuntimeException with scala.util.control.NoStackTrace

/** One statement's tokens and the read position of the recursive-descent
  * rules. Trailing `;` tokens end the statement. `runScript` resolves
  * RUN SCRIPT to the saved statement's plan. */
private[sqlext] final class Cursor(val src: String,
    val runScript: String => LogicalPlan = _ => throw NoMatch) {
  import SqlTokens.Tok

  val toks: IndexedSeq[Tok] = SqlTokens.tokenize(src)
  val end: Int = toks.lastIndexWhere(_.kind != ';') + 1
  var i = 0

  def atEnd: Boolean = i >= end
  private def text(t: Tok): String = src.substring(t.start, t.end)
  /** Raw source text of tokens [a, b). */
  def slice(a: Int, b: Int): String =
    if (a >= b) "" else src.substring(toks(a).start, toks(b - 1).end)
  /** The token just read, as written. */
  def last: String = text(toks(i - 1))
  /** The `k`-th word from the read position, upper-cased ("" if none). */
  def keyword(k: Int): String =
    if (isSym('a', i + k)) text(toks(i + k)).toUpperCase(Locale.ROOT) else ""

  def isKw(w: String, at: Int = i): Boolean = at < end && {
    val t = toks(at)
    t.kind == 'a' && t.end - t.start == w.length &&
      src.regionMatches(true, t.start, w, 0, w.length)
  }
  def isSym(ch: Char, at: Int = i): Boolean = at < end && toks(at).kind == ch
  def isStr: Boolean = isSym('\'')

  /** Reads the keyword sequence `ws` if it comes next. */
  def kw(ws: String*): Boolean = {
    val ok = ws.indices.forall(k => isKw(ws(k), i + k))
    if (ok) i += ws.length
    ok
  }
  def sym(ch: Char): Boolean = { val ok = isSym(ch); if (ok) i += 1; ok }
  def expect(ws: String*): Unit = if (!kw(ws: _*)) throw NoMatch
  def expectSym(ch: Char): Unit = if (!sym(ch)) throw NoMatch
  /** `value`, read after the keywords `ws`. */
  def after[A](ws: String*)(value: => A): A = { expect(ws: _*); value }
  def done(): Unit = if (!atEnd) throw NoMatch
  /** Reads whichever of `ws` comes next; returns it as written. */
  def oneOf(ws: String*): String =
    if (ws.exists(kw(_))) last else throw NoMatch

  /** A single word (`\w+`). */
  def word(): String = if (sym('a')) last else throw NoMatch
  def number(): Long = {
    val w = word()
    if (w.forall(c => c >= '0' && c <= '9')) w.toLong else throw NoMatch
  }
  /** Words joined by the characters in `joiners` with nothing between
    * them (`[\w.-]+`). */
  def name(joiners: String = ".-"): String = {
    val from = i
    while (i < end && (toks(i).kind == 'a' || joiners.indexOf(toks(i).kind) >= 0) &&
        (i == from || toks(i).start == toks(i - 1).end)) i += 1
    if (i == from) throw NoMatch
    slice(from, i)
  }
  /** A single-quoted literal's text: `''` reads as one quote, a backslash
    * escape stays as written (paths and saved SQL keep it verbatim). */
  def str(): String = unquote('\'')
  private def unquote(q: Char): String = {
    expectSym(q)
    src.substring(toks(i - 1).start + 1, toks(i - 1).end - 1).replace(s"$q$q", q.toString)
  }
  /** A dataset or object: '<path>', a backticked identifier or a bare
    * name whose joiners also include the path separator and the `*`
    * wildcard. */
  def target(): String =
    if (isStr) str() else if (isSym('`')) unquote('`') else name(".-*/")

  def strAfter(ws: String*): Option[String] = if (kw(ws: _*)) Some(str()) else None
  def numAfter(ws: String*): Option[Long] = if (kw(ws: _*)) Some(number()) else None

  /** Raw text from the read position up to the first token at the same
    * depth where `stop` holds, the close of the enclosing parenthesis, or
    * the end; the read position moves there. */
  def until(stop: => Boolean): String = {
    val from = i
    val d = if (i == 0) 0 else toks(i - 1).depth + (if (toks(i - 1).kind == '(') 1 else 0)
    while (i < end && toks(i).depth >= d && !(toks(i).depth == d && stop)) i += 1
    slice(from, i)
  }
  /** The rest of the statement as raw text; at least one token. */
  def rest(): String = { if (atEnd) throw NoMatch; until(false) }

  /** The one comma-list splitter: items at the list's depth, read by
    * `item`, separated by top-level commas. */
  def commaList[A](item: => A): Seq[A] = {
    val b = Seq.newBuilder[A]
    b += item
    while (sym(',')) b += item
    b.result()
  }
  def paren[A](body: => A): A = { expectSym('('); val r = body; expectSym(')'); r }
  /** `(…)`: the raw text inside the parentheses. */
  def parenText(): String = paren(until(false))
  /** `(a, f(b, c), …)`: the raw text of each non-empty item. */
  def list(): Seq[String] = paren(commaList(until(isSym(',')))).filter(_.nonEmpty)
  def listAfter(ws: String*): Seq[String] = if (kw(ws: _*)) list() else Nil
}

/** The graft SQL extensions as one grammar (reference: Dremio's parser adds
  * 60+ statements to Calcite's, `sabot/grammar/.../Parser.tdd:624`).
  *
  * [[rules]] is the grammar's reference: an entry per statement family,
  * keyed by the leading keywords and commented with the forms it accepts.
  * A statement looks up its first two words, then its first word; the
  * rule reads the rest by recursive descent. Keywords are
  * case-insensitive; comments and whitespace may sit between any two
  * tokens. Anything no rule accepts goes to Spark's parser unchanged.
  *
  * Notation: `<name>` a word, `<id>` a name that may contain `.`/`-`,
  * `'<dir>'` a single-quoted literal, `<query>`/`<cond>`/`<expr>` Spark SQL
  * text, `[…]` optional, `a|b` alternatives, `(c, …)` a parenthesized
  * comma list. */
private[sqlext] object SqlGrammar {
  import GraftSqlParser._

  /** The graft command for `c`'s statement, if a rule accepts it. */
  def command(c: Cursor): Option[LogicalPlan] =
    try { val p = statement(c); c.done(); Some(p) }
    catch { case NoMatch => None }

  private def statement(c: Cursor): LogicalPlan = {
    val two = rules.get(c.keyword(0) + " " + c.keyword(1))
    val rule = two.orElse(rules.get(c.keyword(0))).getOrElse(throw NoMatch)
    c.i += (if (two.isDefined) 2 else 1)
    rule(c)
  }

  /** Runs `rule` over all of `text`, a clause body a command parses when it
    * runs; malformed text is refused with `expected`. */
  def parseAll[A](text: String, expected: String)(rule: Cursor => A): A = {
    val c = new Cursor(text)
    try { val r = rule(c); c.done(); r }
    catch { case NoMatch => throw new IllegalArgumentException(
      s"cannot parse '${text.trim}' (expected $expected)") }
  }

  /** `<col> = <expr>, …` up to where `stop` holds. */
  def assignments(c: Cursor, stop: => Boolean = false): Seq[(String, String)] =
    c.commaList {
      val col = c.until(c.isSym('='))
      require(col.nonEmpty && c.sym('='),
        s"malformed SET assignment: ${col + c.until(c.isSym(',') || stop)}")
      col -> c.until(c.isSym(',') || stop)
    }

  private type Rule = Cursor => LogicalPlan

  private val rules: Map[String, Rule] = Map(
    // ---- reflections ----
    // CREATE [EXTERNAL] REFLECTION <name> USING PATH '<dir>' AS <query>
    //   (EXTERNAL registers a user-managed materialization,
    //   SqlAddExternalReflection)
    "CREATE REFLECTION" -> (c => CreateReflectionCommand.tupled(reflectionDef(c))),
    "CREATE EXTERNAL" -> (c =>
      CreateExternalReflectionCommand.tupled(c.after("REFLECTION")(reflectionDef(c)))),
    // REFRESH REFLECTION <name>     re-materialize from the stored SQL
    "REFRESH REFLECTION" -> (c => RefreshReflectionCommand(c.word())),
    // DROP REFLECTION <name>
    "DROP REFLECTION" -> (c => DropReflectionCommand(c.word())),
    // REFRESH REFLECTIONS           every SQL-defined goal, dependency order
    //   (ReflectionManager's full pass over its DependencyGraph)
    "REFRESH REFLECTIONS" -> (_ => RefreshAllReflectionsCommand(out("reflection", "status"))),
    // MAINTAIN REFLECTIONS          goals whose REFRESH EVERY period elapsed:
    //   the scheduler seam an operator cron calls
    "MAINTAIN REFLECTIONS" -> (_ => MaintainReflectionsCommand(out("reflection", "action"))),
    // ALTER REFLECTION <name> REFRESH EVERY <n> MINUTE[S] | REFRESH MANUAL
    //   (AccelerationSettings.refreshPeriod)
    "ALTER REFLECTION" -> (c => AlterReflectionPolicyCommand(c.word(),
      if (c.after("REFRESH")(c.kw("MANUAL"))) None
      else { val m = c.after("EVERY")(c.number()); c.oneOf("MINUTE", "MINUTES"); Some(m) },
      out("reflection", "policy"))),
    // LOAD MATERIALIZATION <name>   take an out-of-band rebuild live
    //   (reference $LOAD MATERIALIZATION METADATA)
    "LOAD MATERIALIZATION" -> (c => LoadMaterializationCommand(c.word(), out("reflection", "path"))),
    // COMPACT MATERIALIZATION <name> [INTO <n> FILES]   (SqlCompactMaterialization)
    "COMPACT MATERIALIZATION" -> (c => CompactMaterializationCommand(c.word(),
      c.numAfter("INTO").fold(1)(f => c.after("FILES")(f.toInt)), out("reflection", "files"))),
    // EXPLAIN ACCELERATION <query>
    // EXPLAIN JSON [<phase>] FOR <query>            (explainjson.ftl)
    // EXPLAIN [PLAN FOR] INSERT INTO LAKE … | DELETE FROM LAKE … |
    //   UPDATE LAKE … | MERGE INTO LAKE … ON …   the copy-on-write forecast
    //   of the DML form below, nothing executed (SqlExplainQueryDML)
    "EXPLAIN" -> explain,

    // ---- pipes (reference ingestion.ftl) ----
    // CREATE PIPE <name> [DEDUPE_LOOKBACK_PERIOD <days>]
    //   FROM { '<dir>' FORMAT <fmt> SCHEMA '<ddl>' | LAKE '<table>' }
    //   [MERGE KEY <col>] INTO [LAKE] '<target>' CHECKPOINT '<dir>'
    //   [EXPECT <name> AS (<pred>) [ON VIOLATION WARN|DROP|FAIL], …]
    //   [NOTIFICATION_PROVIDER <name> NOTIFICATION_QUEUE_REFERENCE '<ref>']
    "CREATE PIPE" -> createPipe,
    // ALTER PIPE <name> SET PIPE_EXECUTION_RUNNING = TRUE|FALSE
    // ALTER PIPE <name> … CREATE PIPE's definition (the pipe's paused
    //   state survives the redefinition)
    "ALTER PIPE" -> (c =>
      if (!c.isKw("SET", c.i + 1)) AlterPipeDefCommand(createPipe(c))
      else AlterPipeStatusCommand(c.word(), c.after("SET", "PIPE_EXECUTION_RUNNING") {
        c.expectSym('='); c.oneOf("TRUE", "FALSE").equalsIgnoreCase("TRUE") })),
    // TRIGGER PIPE <name> [FOR BATCH <n>]   (FOR BATCH retries one recorded
    //   batch, SqlTriggerPipe)
    "TRIGGER PIPE" -> (c => TriggerPipeCommand(c.word(), c.numAfter("FOR", "BATCH"))),
    // DROP PIPE [IF EXISTS] <name>
    "DROP PIPE" -> { c => val ifExists = c.kw("IF", "EXISTS"); DropPipeCommand(c.word(), ifExists) },
    "SHOW PIPES" -> (_ => ShowPipesCommand(out("name", "source", "format", "target"))),
    // SHOW STREAMS                  active streaming queries
    "SHOW STREAMS" -> (_ =>
      ShowStreamsCommand(out("id", "name", "batch_id", "num_input_rows", "status"))),
    // DESC[RIBE] PIPE <name> | DESC[RIBE] SCRIPT <id>
    // DESC[RIBE] LAKE '<dir>' [AT BRANCH|TAG <ref>]   snapshot history
    "DESCRIBE" -> describe,
    "DESC" -> describe,

    // ---- lake tables ----
    // CREATE LAKE '<dir>' [PARTITION BY (t(c), …)] [DISTRIBUTE BY (c, …)]
    //   [STATS (c, …)] [SORT|LOCALSORT BY (c, …)] [CLUSTER BY (c, …)]
    //   [WITH SINGLE WRITER] AS <query>
    //   CLUSTER BY declares clustering keys (exclusive with PARTITION BY /
    //   SORT BY); DISTRIBUTE BY hash-clusters rows across writers; SINGLE
    //   WRITER writes one file; SORT BY sorts each data file (with a bucket
    //   transform: a sorted bucketed table, so merge joins need neither
    //   shuffle nor sort)
    // CREATE LAKE VIEW <name> FROM '<dir>'
    //   [VERSION AS OF <n>] [TIMESTAMP AS OF '<ts>'] | AT BRANCH|TAG <ref>
    // CREATE LAKE CHANGES VIEW <name> FROM '<dir>' BETWEEN <v1> AND <v2>
    //   row-level CDC: _change_type = insert | delete
    "CREATE LAKE" -> createLake,
    // INSERT INTO LAKE '<dir>' [AT BRANCH <id>] <query>
    //   append, inherits the layout; AT BRANCH stages on the branch (a
    //   statement-level ref beats the session pin)
    "INSERT INTO" -> { c =>
      val ((dir, branch), q) = (lakeDml(c), c.rest())
      branch.fold[LogicalPlan](InsertLakeCommand(dir, q))(InsertLakeAtBranchCommand(dir, _, q)) },
    // DELETE FROM LAKE '<dir>' [AT BRANCH <id>] WHERE <cond>   copy-on-write
    "DELETE FROM" -> { c =>
      val (dir, branch) = lakeDml(c); DeleteLakeCommand(dir, c.after("WHERE")(c.rest()), branch) },
    // UPDATE LAKE '<dir>' [AT BRANCH <id>] SET <col> = <expr>, … WHERE <cond>
    //   (the split is at the top-level WHERE, so a 'where' inside a string
    //   literal is data)
    "UPDATE" -> { c =>
      val ((dir, branch), sets) = (lakeDml(c), c.after("SET")(c.until(c.isKw("WHERE"))))
      require(sets.nonEmpty && c.kw("WHERE"), s"UPDATE LAKE requires a WHERE clause: ${c.src}")
      UpdateLakeCommand(dir, sets, c.rest(), branch) },
    // MERGE INTO LAKE '<dir>' KEY <col> USING <query>    upsert by key
    // MERGE INTO LAKE '<dir>' ON <col> USING (<query>)   ANSI clause MERGE
    //   { WHEN MATCHED [AND <cond>] THEN UPDATE SET <col> = <expr>, … | *
    //   | WHEN MATCHED [AND <cond>] THEN DELETE }…
    //   [WHEN NOT MATCHED [AND <cond>] THEN INSERT [*]]
    //   (conditions and expressions name the target t and the source s)
    "MERGE INTO" -> mergeInto,
    // MERGE BRANCH <id> INTO LAKE '<dir>' [DRY RUN]
    //   fast-forward squash at the fork base; a three-way merge with
    //   file-granular conflict detection when main diverged
    "MERGE BRANCH" -> { c =>
      val (n, dir) = (c.name(), inLake(c, "INTO"))
      if (c.kw("DRY", "RUN")) MergeBranchDryRunCommand(n, dir, out("status", "detail"))
      else MergeBranchCommand(n, dir) },
    // TRUNCATE LAKE '<dir>'                       (SqlTruncateTable)
    "TRUNCATE LAKE" -> (c => TruncateLakeCommand(c.str(), out("version"))),
    // ROLLBACK LAKE '<dir>' TO VERSION <n>        restore as a new commit
    "ROLLBACK LAKE" -> (c => RollbackLakeCommand(c.str(), c.after("TO", "VERSION")(c.number()))),
    // OPTIMIZE LAKE '<dir>' [ZORDER BY (c, …)] [ORDER BY c, …]
    //   [INTO <n> FILES] [WHERE <cond>]
    // OPTIMIZE LAKE '<dir>' REWRITE MANIFESTS     metadata-only checkpoint
    // OPTIMIZE LAKE '<dir>' REWRITE DATA [USING BIN_PACK]
    //   [FOR PARTITIONS (<cond>)] [(MIN_INPUT_FILES = n,
    //   TARGET_FILE_SIZE_MB = t, MIN_FILE_SIZE_MB = a, MAX_FILE_SIZE_MB = b)]
    //   size-banded bin-pack: only unhealthy files rewrite
    //   (SqlOptimize's two explicit arms, parserImpls.ftl:1542)
    "OPTIMIZE LAKE" -> optimize,
    // VACUUM LAKE '<dir>' [OLDER_THAN '<ts>'] [RETAIN <n> VERSIONS] [GRACE <ms>]
    //   expire snapshots, delete unreferenced files; GRACE keeps young
    //   orphans for in-flight writers
    // VACUUM LAKE '<dir>' REMOVE ORPHAN FILES [OLDER_THAN '<ts>'] [LOCATION '<p>']
    //   unreferenced-file sweep with NO history expiry; OLDER_THAN
    //   defaults to 3 days ago (VacuumTableRemoveOrphanFilesOptions)
    "VACUUM LAKE" -> { c =>
      val dir = c.str()
      if (c.kw("REMOVE", "ORPHAN", "FILES"))
        RemoveOrphanFilesCommand(dir, c.strAfter("OLDER_THAN").map(parseTsMillis),
          c.strAfter("LOCATION"))
      else {
        val (retain, grace, olderThan) = expiry(c)
        VacuumLakeCommand(dir, retain, grace, olderThan)
      } },
    // VACUUM CATALOG '<root>' [OLDER_THAN '<ts>'] [RETAIN <n> VERSIONS] [GRACE <ms>]
    //   every lake table under the root, all authorized before the first
    //   deletion (SqlVacuumCatalog)
    "VACUUM CATALOG" -> { c =>
      val (root, (retain, grace, olderThan)) = (c.str(), expiry(c))
      VacuumCatalogCommand(root, retain, grace, olderThan, out("table", "n_deleted")) },
    // EXPORT LAKE '<dir>' TO '<dst>' [VERSION AS OF <n>] [PARTITION BY (c, …)]
    //   [FORMAT ICEBERG|DELTA] [APPEND]   plain parquet + table metadata
    //   for external readers (sources.LakeExport)
    "EXPORT LAKE" -> (c => ExportLakeCommand(c.str(), c.after("TO")(c.str()),
      c.numAfter("VERSION", "AS", "OF"), c.listAfter("PARTITION", "BY"),
      if (c.kw("FORMAT")) c.oneOf("ICEBERG", "DELTA").toUpperCase(Locale.ROOT) else "ICEBERG",
      c.kw("APPEND"))),
    // ANALYZE LAKE '<dir>' [FOR COLUMNS (c, …)]
    //   [COMPUTE STATISTICS [WITH HISTOGRAM [<n> BUCKETS]]]
    //   one-pass column profile; COMPUTE STATISTICS persists row count,
    //   NDV, nulls, min/max and equi-height histograms into TBLPROPERTIES
    //   where full-snapshot scans feed Spark's CBO
    "ANALYZE LAKE" -> { c =>
      val (dir, cols, persist) = (c.str(), c.listAfter("FOR", "COLUMNS"), c.kw("COMPUTE", "STATISTICS"))
      val histogram = persist && c.kw("WITH", "HISTOGRAM")
      val buckets =
        if (histogram && !c.atEnd) { val n = c.number(); c.after("BUCKETS")(Some(n)) } else None
      AnalyzeLakeCommand(dir,
        out("col_name", "n_rows", "n_nulls", "ndv", "min_value", "max_value"),
        persist, histogram, buckets.map(_.toInt).getOrElse(16), cols) },
    // COPY INTO '<dir>' FROM '<src>' FORMAT <fmt> SCHEMA '<ddl>'
    //   [ON_ERROR CONTINUE|ABORT]           (CopyIntoTableContext)
    "COPY INTO" -> (c => CopyIntoCommand(c.str(), c.after("FROM")(c.str()),
      c.after("FORMAT")(c.word().toLowerCase(Locale.ROOT)), c.after("SCHEMA")(c.str()),
      if (c.kw("ON_ERROR")) c.word().toLowerCase(Locale.ROOT) else "continue")),
    // ALTER TABLE|LAKE|PDS|VDS|VIEW|DATASET|FOLDER <target> …   see alterDataset
    "ALTER TABLE" -> alterDataset, "ALTER LAKE" -> alterDataset,
    "ALTER PDS" -> alterDataset, "ALTER VDS" -> alterDataset,
    "ALTER VIEW" -> alterDataset, "ALTER DATASET" -> alterDataset,
    "ALTER FOLDER" -> alterDataset,
    // REFRESH DATASET '<path>'|<name> <refresh options>   (SqlRefreshDataset)
    "REFRESH DATASET" -> (c => refreshDataset(c, c.target())),
    "SHOW FILES" -> (c => ShowFilesLakeCommand(inLake(c), out("file_path", "size_bytes", "row_count"))),
    "SHOW TBLPROPERTIES" -> (c => ShowLakePropertiesCommand(inLake(c), out("key", "value"))),
    // SHOW CREATE LAKE '<dir>' [AT BRANCH|TAG <ref>]   DDL, layout, head version
    // SHOW CREATE [LAKE] VIEW <name>          (SqlShowCreate's VIEW arm)
    "SHOW CREATE" -> (c =>
      if (c.kw("VIEW") || c.kw("LAKE", "VIEW"))
        ShowCreateViewCommand(c.word(), out("view", "definition"))
      else ShowCreateLakeCommand(c.after("LAKE")(c.str()), out("column_ddl", "partition_spec",
        "stats_cols", "sort_by", "primary_key", "version"), atRef(c))),

    // ---- branches, tags and the session version context (versionSupport.ftl) ----
    // CREATE BRANCH|TAG <id> FROM LAKE '<dir>' [VERSION AS OF <n>]
    "CREATE BRANCH" -> createRef, "CREATE TAG" -> createRef,
    // DROP BRANCH|TAG <id> FROM LAKE '<dir>'
    "DROP BRANCH" -> dropRef, "DROP TAG" -> dropRef,
    // ALTER BRANCH|TAG <id> ASSIGN VERSION <n> IN LAKE '<dir>'   repoint; a
    //   branch's staged commits are discarded (SqlAssignBranch/SqlAssignTag)
    "ALTER BRANCH" -> assignRef, "ALTER TAG" -> assignRef,
    // SHOW REFS FROM LAKE '<dir>' | SHOW BRANCHES|TAGS FROM LAKE '<dir>'
    "SHOW REFS" -> (c => ShowRefsCommand(inLake(c, "FROM"), out("name", "type", "base_version"))),
    "SHOW BRANCHES" -> (c => ShowRefsCommand(inLake(c, "FROM"),
      out("name", "type", "base_version"), kindFilter = Some("branch"))),
    "SHOW TAGS" -> (c => ShowRefsCommand(inLake(c, "FROM"),
      out("name", "type", "base_version"), kindFilter = Some("tag"))),
    // USE BRANCH|TAG <id> IN LAKE '<dir>' | USE VERSION <n> IN LAKE '<dir>'
    // USE DEFAULT IN LAKE '<dir>'   pin, or unpin, this session's reads
    "USE BRANCH" -> useRef, "USE TAG" -> useRef,
    "USE VERSION" -> (c =>
      UseVersionCommand(c.number(), inLake(c), out("ref", "type", "base_version"))),
    "USE DEFAULT" -> (c => UseDefaultCommand(inLake(c), out("ref", "type", "base_version"))),
    // SHOW LOG[S] [AT BRANCH|TAG <id>] IN LAKE '<dir>'
    "SHOW LOG" -> showLogs, "SHOW LOGS" -> showLogs,

    // ---- users, roles and privileges (grant.ftl, role.ftl) ----
    // GRANT ROLE <id> TO USER <id>
    // GRANT <priv>, … ON BRANCH|TAG <id> IN CATALOG '<dir>' TO USER|ROLE <id>
    //   COMMIT = branch-scoped writes, USAGE = ref-pinned reads
    //   (SqlGrantOnReference)
    // GRANT <priv>, … ON CATALOG '<dir>' TO USER|ROLE <id>   CREATE_BRANCH|_TAG
    // GRANT <priv>, … ON SCRIPT <id> TO USER|ROLE <id>       (SqlGrantOnScript)
    // GRANT <priv> ON ALL DATASETS IN FOLDER|SOURCE '<path>'|<id> TO …
    //   one container grant covers the subtree (SqlGrantOnAllDatasets)
    // GRANT SELECT|INSERT|UPDATE|DELETE|ALTER|DROP|EXECUTE|ALL
    //   ON '<path>'|<object> TO USER|ROLE <id>
    // GRANT OWNERSHIP ON '<path>'|<object> TO USER|ROLE <id>  (SqlGrantOwnership)
    // REVOKE: every GRANT form but OWNERSHIP, with FROM for TO
    "GRANT" -> (c => grant(c, granting = true)),
    "REVOKE" -> (c => grant(c, granting = false)),
    // SHOW GRANTS [FOR <id>] | SHOW GRANTS ON SCRIPT <id>
    // SHOW GRANTS ON BRANCH|TAG <id> IN CATALOG '<dir>' | ON '<path>'|<object>
    "SHOW GRANTS" -> showGrants,
    // CREATE USER <id> PASSWORD '<pw>' [ADMIN] | ALTER USER <id> SET PASSWORD '<pw>'
    "CREATE USER" -> (c =>
      CreateUserCommand(c.name(), c.after("PASSWORD")(c.str()), c.kw("ADMIN"), out("user"))),
    "ALTER USER" -> (c => AlterUserCommand(c.name(), c.after("SET", "PASSWORD")(c.str()), out("user"))),
    "DROP USER" -> (c => DropUserCommand(c.name())),
    "CREATE ROLE" -> (c => CreateRoleCommand(c.name(), out("role"))),
    "DROP ROLE" -> (c => DropRoleCommand(c.name())),
    // AUTHENTICATE USER <id> PASSWORD '<pw>'   binds the principal to the session
    "AUTHENTICATE USER" -> (c =>
      AuthenticateCommand(c.name(), c.after("PASSWORD")(c.str()), out("user", "token"))),
    // ALTER AUTH ENFORCE ON|OFF
    "ALTER AUTH" -> (c =>
      AlterAuthCommand(c.after("ENFORCE")(c.oneOf("ON", "OFF")).equalsIgnoreCase("ON"))),
    // SHOW POLICIES        (row-access and masking policies: see alterDataset)
    "SHOW POLICIES" -> (_ => ShowPoliciesCommand(out("dataset", "kind", "policy"))),

    // ---- saved scripts (services/script; '' escapes a quote in <sql>) ----
    // CREATE|ALTER SCRIPT <id> AS '<sql>' | DROP SCRIPT <id> | RUN SCRIPT <id>
    // SHOW SCRIPTS [LIMIT <n>]
    "CREATE SCRIPT" -> (c => scriptDdl(c, create = true)),
    "ALTER SCRIPT" -> (c => scriptDdl(c, create = false)),
    "DROP SCRIPT" -> (c => DropScriptCommand(c.name())),
    "RUN SCRIPT" -> { c => val n = c.name(); c.done(); c.runScript(n) },
    "SHOW SCRIPTS" -> (c => ShowScriptsCommand(c.numAfter("LIMIT").map(_.toInt),
      out("script", "owner", "modified_ms"))),

    // ---- workload management (SqlAlterEngine, RuleBasedEngineSelector) ----
    // CREATE|ALTER QUEUE <id> SLOTS <n> [TIMEOUT <ms>] | DROP QUEUE <id>
    "CREATE QUEUE" -> (c => CreateQueueCommand.tupled(queueDef(c))),
    "ALTER QUEUE" -> (c => AlterQueueCommand.tupled(queueDef(c))),
    "DROP QUEUE" -> (c => DropQueueCommand(c.name())),
    "SHOW QUEUES" -> (_ => ShowQueuesCommand(out("name", "slots", "pool", "running",
      "queued", "admitted", "timed_out"))),
    // ALTER ENGINE <id> SET (MIN_REPLICAS = <n>, MAX_REPLICAS = <n>)
    //   either key, either order; the command validates the body
    "ALTER ENGINE" -> (c => AlterEngineCommand(c.name(), c.after("SET")(c.parenText()),
      out("engine", "min_replicas", "max_replicas", "queue_slots"))),
    "SHOW ENGINES" -> (_ =>
      ShowEnginesCommand(out("engine", "min_replicas", "max_replicas", "queue_slots"))),
    // CREATE ROUTING RULE <id> PRIORITY <n> WHEN <cond> ROUTE TO <queue>
    // DROP ROUTING RULE <id> | SHOW ROUTING RULES
    "CREATE ROUTING" -> (c => CreateRoutingRuleCommand(c.after("RULE")(c.name()),
      c.after("PRIORITY")(c.number().toInt),
      c.after("WHEN")(c.until(c.isKw("ROUTE") && c.isKw("TO", c.i + 1))),
      c.after("ROUTE", "TO")(c.name()))),
    "DROP ROUTING" -> (c => DropRoutingRuleCommand(c.after("RULE")(c.name()))),
    "SHOW ROUTING" -> (c =>
      c.after("RULES")(ShowRoutingRulesCommand(out("name", "priority", "condition", "queue")))),
    // CANCEL QUERY <id>
    "CANCEL QUERY" -> (c => CancelQueryCommand(c.number(), out("cancelled"))),
    // [ALTER SESSION] CLEAR RESULT|PLAN CACHE   (SqlAlterClearPlanCache)
    "ALTER SESSION" -> (c => c.after("CLEAR")(clearCache(c))),
    "CLEAR" -> clearCache,

    // ---- catalog: folders and sources (parserImpls.ftl, alter.ftl:58-60) ----
    // CREATE FOLDER [IF NOT EXISTS] <id> | DROP FOLDER [IF EXISTS] <id>
    "CREATE FOLDER" -> { c =>
      val ifNotExists = c.kw("IF", "NOT", "EXISTS")
      FolderCommand(c.name(), create = true, ifNotExists, out("folder")) },
    "DROP FOLDER" -> { c =>
      val ifExists = c.kw("IF", "EXISTS")
      FolderCommand(c.name(), create = false, ifExists, out("folder")) },
    // CREATE SOURCE [IF NOT EXISTS] <id> TYPE <kind> [('<key>' = '<value>', …)]
    "CREATE SOURCE" -> { c =>
      val (ifNotExists, n, kind) = (c.kw("IF", "NOT", "EXISTS"), c.name(), c.after("TYPE")(c.word()))
      CreateSourceCommand(n, kind, if (c.isSym('(')) properties(c) else Map.empty, ifNotExists,
        out("source", "type", "status", "message")) },
    "DROP SOURCE" -> (c => DropSourceCommand(c.name())),
    // ALTER SOURCE <id> REFRESH STATUS | CLEAR PERMISSION CACHE
    "ALTER SOURCE" -> { c =>
      val n = c.name()
      if (c.kw("REFRESH", "STATUS")) RefreshSourceStatusCommand(n, out("source", "status", "message"))
      else c.after("CLEAR", "PERMISSION", "CACHE")(
        ClearPermissionCacheCommand(n, out("source", "entries_dropped"))) },
    // SHOW SOURCES [LIMIT <n>]
    "SHOW SOURCES" -> (c => ShowSourcesCommand(c.numAfter("LIMIT").map(_.toInt),
      out("name", "type", "status", "message", "last_probe_ms"))),
    "SHOW REFLECTIONS" -> (_ => ShowReflectionsCommand(out("name", "fingerprint", "path")))
  )

  private def reflectionDef(c: Cursor): (String, String, String) =
    (c.word(), c.after("USING", "PATH")(c.str()), c.after("AS")(c.rest()))

  private def explain(c: Cursor): LogicalPlan =
    if (c.kw("ACCELERATION"))
      ExplainAccelerationCommand(c.rest(), out("reflection", "fingerprint", "used", "fresh"))
    else if (c.kw("JSON"))
      ExplainJsonCommand(if (c.isKw("FOR")) "physical" else c.word().toLowerCase(Locale.ROOT),
        c.after("FOR")(c.rest()), out("phase", "plan_json"))
    else {
      c.kw("PLAN", "FOR")
      if (!Seq("INSERT", "DELETE", "UPDATE", "MERGE").exists(c.isKw(_))) throw NoMatch
      val dml = out("mode", "files_total", "files_rewritten", "files_carried",
        "rows_rewritten_max", "bytes_rewritten", "partial_rewrite")
      statement(c) match {
        case InsertLakeCommand(dir, q) => ExplainLakeInsertCommand(dir, q, out("mode",
          "partition_spec", "stats_columns", "sort_order", "source_rows_estimate", "next_version"))
        case DeleteLakeCommand(dir, cond, branch) =>
          ExplainLakeDmlCommand(dir, cond, "copy-on-write delete", branch, dml)
        case UpdateLakeCommand(dir, _, cond, branch) =>
          ExplainLakeDmlCommand(dir, cond, "copy-on-write update", branch, dml)
        case m: MergeLakeClausesCommand => ExplainLakeMergeCommand(m.dir, m.key, m.querySql, dml)
        case _ => throw NoMatch
      }
    }

  private def createPipe(c: Cursor): CreatePipeCommand = {
    val n = c.word()
    // DEDUPE_LOOKBACK_PERIOD: bounded dedup memory — after the window a
    // re-arriving file re-ingests
    val lookback = c.numAfter("DEDUPE_LOOKBACK_PERIOD").map(_.toInt)
    // a lake source replicates the snapshot log incrementally: TRIGGER
    // ships source commits (checkpointed, latest] into the target
    val (lakeSource, src) = (c.after("FROM")(c.kw("LAKE")), c.str())
    val (fmt, ddl) = if (lakeSource) ("lakesource", "")
      else (c.after("FORMAT")(c.word().toLowerCase(Locale.ROOT)), c.after("SCHEMA")(c.str()))
    // MERGE KEY: each TRIGGER upserts the batch into the lake target by key
    val key = if (c.kw("MERGE", "KEY")) Some(c.word()) else None
    val (lake, target) = (c.after("INTO")(c.kw("LAKE")), c.str())
    val checkpoint = c.after("CHECKPOINT")(c.str())
    // EXPECT: the ingest gate (graft.operators.Expectations); DROP/FAIL
    // violators land in the quarantine table beside the target
    val expectations = if (!c.kw("EXPECT")) Nil else try c.commaList(
      PipeExpectation(c.word(), c.after("AS")(c.parenText()),
        if (c.kw("ON", "VIOLATION")) c.word().toLowerCase(Locale.ROOT) else "warn"))
    catch { case NoMatch => throw new IllegalArgumentException(s"CREATE PIPE $n: cannot parse " +
      "EXPECT (want: <name> AS (<predicate>) [ON VIOLATION WARN|DROP|FAIL], ...)") }
    // event-driven loading: TRIGGER loads exactly the files named by
    // pending queue events instead of listing the source directory
    val notify = if (!c.kw("NOTIFICATION_PROVIDER")) None
      else Some(c.word() -> c.after("NOTIFICATION_QUEUE_REFERENCE")(c.str()))
    val fromLake = lakeSource || key.isDefined
    require(!fromLake || lake, s"CREATE PIPE $n: a lake source or MERGE KEY needs INTO LAKE")
    require(!fromLake || (lookback.isEmpty && notify.isEmpty), s"CREATE PIPE $n: " +
      "DEDUPE_LOOKBACK_PERIOD and NOTIFICATION_PROVIDER apply to append pipes over files")
    require(!lakeSource || expectations.isEmpty, s"CREATE PIPE $n: EXPECT needs a file source")
    CreatePipeCommand(n, src, fmt, ddl, target, checkpoint,
      sink = if (key.isDefined) "merge" else if (lake) "lake" else "parquet",
      mergeKey = key, notifyProvider = notify.map(_._1), notifyQueue = notify.map(_._2),
      lookbackDays = lookback, expectations = expectations)
  }

  private def describe(c: Cursor): LogicalPlan =
    c.oneOf("PIPE", "SCRIPT", "LAKE").toUpperCase(Locale.ROOT) match {
      case "PIPE" => DescribePipeCommand(c.word(), out("name", "source", "format", "target",
        "checkpoint", "sink", "merge_key", "running", "notification",
        "dedupe_lookback_days", "expectations"))
      case "SCRIPT" => DescribeScriptCommand(c.name(),
        out("script", "owner", "content", "created_ms", "modified_ms"))
      case _ => DescribeLakeCommand(c.str(),
        out("version", "action", "timestamp_ms", "n_files", "partition_spec"), atRef(c))
    }

  private def createLake(c: Cursor): LogicalPlan =
    if (c.kw("CHANGES", "VIEW")) LakeChangesViewCommand(c.word(), c.after("FROM")(c.str()),
      c.after("BETWEEN")(c.number()), c.after("AND")(c.number()))
    else if (c.kw("VIEW")) {
      val (n, dir) = (c.word(), c.after("FROM")(c.str()))
      atRef(c) match {
        case Some(ref) => CreateLakeViewAtRefCommand(n, dir, ref)
        case None => CreateLakeViewCommand(n, dir, c.numAfter("VERSION", "AS", "OF"),
          c.strAfter("TIMESTAMP", "AS", "OF").map(parseTsMillis))
      }
    } else {
      val (dir, spec, distributeBy, stats) = (c.str(), c.listAfter("PARTITION", "BY"),
        c.listAfter("DISTRIBUTE", "BY"), c.listAfter("STATS"))
      val sortBy = if (c.kw("LOCALSORT", "BY")) c.list() else c.listAfter("SORT", "BY")
      val (clusterBy, single) = (c.listAfter("CLUSTER", "BY"), c.kw("WITH", "SINGLE", "WRITER"))
      CreateLakeTableCommand(dir, spec, stats, sortBy, c.after("AS")(c.rest()), clusterBy,
        distributeBy, single)
    }

  /** `LAKE '<dir>' [AT BRANCH <id>]` after a DML verb. */
  private def lakeDml(c: Cursor): (String, Option[String]) =
    (c.after("LAKE")(c.str()), if (c.kw("AT", "BRANCH")) Some(c.name()) else None)

  private def mergeInto(c: Cursor): LogicalPlan = {
    val dir = c.after("LAKE")(c.str())
    if (c.kw("KEY")) return MergeLakeCommand(dir, c.word(), c.after("USING")(c.rest()))
    val key = c.after("ON")(c.word())
    require(c.after("USING")(c.isSym('(')),
      s"MERGE ... ON ... USING requires a parenthesized source query: ${c.src}")
    val query = c.parenText()
    def clauseStart(at: Int): Boolean = c.isKw("WHEN", at) &&
      (c.isKw("MATCHED", at + 1) || c.isKw("NOT", at + 1) && c.isKw("MATCHED", at + 2))
    require(clauseStart(c.i), s"MERGE requires at least one WHEN clause: ${c.src}")
    val matched = Seq.newBuilder[WhenMatched]
    var notMatched: Option[WhenNotMatched] = None
    while (c.kw("WHEN")) {
      val not = c.kw("NOT"); c.expect("MATCHED")
      // the condition ends at the THEN that starts the action: a CASE
      // WHEN … THEN inside it is followed by a value, not an action
      val cond = if (c.kw("AND")) Some(c.until(c.isKw("THEN") &&
        Seq("DELETE", "UPDATE", "INSERT").exists(c.isKw(_, c.i + 1)))) else None
      c.expect("THEN")
      if (not) {
        c.after("INSERT")(c.sym('*'))
        require(notMatched.isEmpty, "MERGE allows one WHEN NOT MATCHED clause")
        notMatched = Some(WhenNotMatched(cond))
      } else if (c.kw("DELETE")) matched += WhenMatched(cond, MatchedAction.Delete)
      else {
        matched += WhenMatched(cond,
          if (c.after("UPDATE", "SET")(c.sym('*'))) MatchedAction.UpdateAll
          else MatchedAction.Update(assignments(c, clauseStart(c.i))))
      }
      require(c.atEnd || clauseStart(c.i), s"unrecognized MERGE clause: ${c.rest()}")
    }
    MergeLakeClausesCommand(dir, key, query, matched.result(), notMatched)
  }

  private def optimize(c: Cursor): LogicalPlan = {
    val dir = c.str()
    if (c.kw("REWRITE", "MANIFESTS")) RewriteManifestsCommand(dir, out("version"))
    else if (c.kw("REWRITE", "DATA")) {
      c.kw("USING", "BIN_PACK")
      val cond = if (c.kw("FOR", "PARTITIONS")) Some(c.parenText()) else None
      OptimizeRewriteDataCommand(dir, cond, if (c.isSym('(')) c.parenText() else "", out("version"))
    } else {
      val zorderBy = c.listAfter("ZORDER", "BY")
      val orderBy = if (c.kw("ORDER", "BY")) c.commaList(c.name(".")) else Nil
      val files = c.numAfter("INTO").fold(1)(n => c.after("FILES")(n.toInt))
      OptimizeLakeCommand(dir, orderBy, zorderBy, files, if (c.kw("WHERE")) Some(c.rest()) else None)
    }
  }

  /** `[OLDER_THAN '<ts>'] [RETAIN <n> VERSIONS] [GRACE <ms>]` as
    * (retain, grace ms, older-than ms): OLDER_THAN alone keeps one
    * version, neither keeps two; GRACE defaults to an hour. */
  private def expiry(c: Cursor): (Int, Long, Option[Long]) = {
    val olderThan = c.strAfter("OLDER_THAN").map(parseTsMillis)
    val retain =
      c.numAfter("RETAIN").fold(if (olderThan.isDefined) 1 else 2)(n => c.after("VERSIONS")(n.toInt))
    (retain, c.numAfter("GRACE").getOrElse(3600000L), olderThan)
  }

  // ALTER TABLE|LAKE|PDS|VDS|VIEW|DATASET|FOLDER <target> <action>, the
  // target a quoted path, a backticked or a bare name:
  //   REFRESH REFLECTIONS       every reflection anchored on '<dir>'
  //                             (SqlRefreshReflectionsForDataset)
  //   REFRESH METADATA [<refresh options>]   a promoted dataset; with
  //                             options, REFRESH DATASET's incremental form
  //   FORGET METADATA           drop a promotion, keep the data (SqlForgetTable)
  //   ENABLE|DISABLE RAW|AGGREGATE ACCELERATION   (SqlAccelToggle)
  //   ENABLE|DISABLE SCHEMA LEARNING              promoted datasets
  //   ENABLE|DISABLE APPROXIMATE STATS            NDV-sketch COUNT(DISTINCT)
  //                             planning for '<dir>' (SqlSetApprox)
  //   CREATE AGGREGATE REFLECTION <name> USING PATH '<dir>'
  //     DIMENSIONS (c, …) MEASURES (c, …) [PARTITION BY (c, …)]
  //   CREATE RAW REFLECTION <name> USING PATH '<dir>' DISPLAY (c, …)
  //     [PARTITION BY (c, …)]   declarative reflections (alter.ftl:434,591)
  //   ADD ROW ACCESS POLICY <fn>(<col>, …) | DROP ROW ACCESS POLICY <fn>[(…)]
  //   MODIFY|CHANGE|ALTER [COLUMN] <col> SET MASKING POLICY <fn>(<col>, …)
  //   MODIFY|CHANGE|ALTER [COLUMN] <col> UNSET MASKING POLICY <fn>[()]
  //                             policy = UDF + argument columns (SqlPolicy)
  //   ROUTE [ALL] REFLECTIONS TO [DEFAULT] QUEUE|ENGINE [<id>]   refresh
  //                             routing for '<dir>' or a folder prefix
  //                             (SqlAlterDatasetReflectionRouting)
  // and on a lake '<dir>' only:
  //   SET PARTITION SPEC (t(c), …)     partition evolution
  //   SET SORT ORDER (c, …)
  //   SET TBLPROPERTIES ('<key>' = '<value>', …) | UNSET TBLPROPERTIES ('<key>', …)
  //   CLUSTER BY (c, …)                clustering keys: a sticky sort order
  //                                    plus a marker property; keyless
  //                                    OPTIMIZE rewrites Z-order-clustered
  //   DROP CLUSTERING KEY              (SqlAlterTableClusterKey)
  //   ADD PRIMARY KEY (c, …) | DROP PRIMARY KEY   informational metadata
  //   RENAME COLUMN <old> TO <new>     id-stable rename
  //   ADD COLUMN <name> <type>         fresh field id
  //   DROP COLUMN <name>               id retired
  //   CHANGE|MODIFY [COLUMN] <old> <new> <type>   rename plus widening
  //                                    retype, both metadata-only
  private def alterDataset(c: Cursor): LogicalPlan = {
    val quoted = c.isStr
    val target = c.target()
    def dir: String = if (quoted) target else throw NoMatch
    def policy = out("dataset", "policy")
    val action = c.oneOf("REFRESH", "FORGET", "ENABLE", "DISABLE", "CREATE", "ADD", "DROP",
      "MODIFY", "CHANGE", "ALTER", "RENAME", "SET", "UNSET", "CLUSTER", "ROUTE")
    action.toUpperCase(Locale.ROOT) match {
      case "REFRESH" =>
        if (c.kw("REFLECTIONS")) RefreshReflectionsForDatasetCommand(dir, out("reflection", "status"))
        else {
          c.expect("METADATA")
          if (c.atEnd) RefreshMetadataCommand(target) else refreshDataset(c, target)
        }
      case "FORGET" => c.after("METADATA")(ForgetMetadataCommand(target, out("dataset")))
      case toggle @ ("ENABLE" | "DISABLE") =>
        val on = toggle == "ENABLE"
        if (c.kw("SCHEMA", "LEARNING"))
          ToggleSchemaLearningCommand(target, on, out("dataset", "schema_learning"))
        else if (c.kw("APPROXIMATE", "STATS")) SetApproxStatsCommand(dir, on)
        else AccelToggleCommand(target, c.oneOf("RAW", "AGGREGATE"), c.after("ACCELERATION")(on),
          out("dataset", "kind", "acceleration"))
      case "CREATE" =>
        val aggregate = c.oneOf("AGGREGATE", "RAW").equalsIgnoreCase("AGGREGATE")
        val (n, path) = (c.after("REFLECTION")(c.word()), c.after("USING", "PATH")(c.str()))
        if (aggregate) CreateAggReflectionCommand(target, n, path, c.after("DIMENSIONS")(c.list()),
          c.after("MEASURES")(c.list()), c.listAfter("PARTITION", "BY"),
          out("reflection", "fingerprint"))
        else CreateRawReflectionCommand(target, n, path, c.after("DISPLAY")(c.list()),
          c.listAfter("PARTITION", "BY"), out("reflection", "fingerprint"))
      case "ADD" =>
        if (c.kw("ROW", "ACCESS", "POLICY"))
          PolicyCommand(target, "add_row", None, c.word(), c.list(), policy)
        else if (c.kw("PRIMARY", "KEY")) AlterLakePkCommand(dir, c.list(), out("table", "primary_key"))
        else AddLakeColumnCommand(dir, c.after("COLUMN")(c.word()), c.rest())
      case "DROP" =>
        if (c.kw("ROW", "ACCESS", "POLICY")) {
          val fn = c.word()
          if (c.isSym('(')) c.list()
          PolicyCommand(target, "drop_row", None, fn, Nil, policy)
        } else if (c.kw("CLUSTERING", "KEY")) ClusterKeyCommand(dir, Nil, out("table", "cluster_key"))
        else if (c.kw("PRIMARY", "KEY")) AlterLakePkCommand(dir, Nil, out("table", "primary_key"))
        else DropLakeColumnCommand(dir, c.after("COLUMN")(c.word()))
      case "MODIFY" | "CHANGE" | "ALTER" =>
        c.kw("COLUMN")
        val col = c.word()
        if (c.kw("SET", "MASKING", "POLICY"))
          PolicyCommand(target, "set_mask", Some(col), c.word(), c.list(), policy)
        else if (c.kw("UNSET", "MASKING", "POLICY")) {
          val fn = c.word()
          if (c.isSym('(')) c.paren(())
          PolicyCommand(target, "unset_mask", Some(col), fn, Nil, policy)
        } else ChangeLakeColumnCommand(dir, col, c.word(), c.rest(), out("column", "type"))
      case "RENAME" =>
        RenameLakeColumnCommand(dir, c.after("COLUMN")(c.word()), c.after("TO")(c.word()))
      case "SET" =>
        if (c.kw("PARTITION", "SPEC")) SetLakePartitionSpecCommand(dir, c.list())
        else if (c.kw("SORT", "ORDER")) SetLakeSortOrderCommand(dir, c.list())
        else SetLakePropertiesCommand(dir, c.after("TBLPROPERTIES")(properties(c)))
      case "UNSET" =>
        UnsetLakePropertiesCommand(dir, c.after("TBLPROPERTIES")(c.paren(c.commaList(c.str()))))
      case "CLUSTER" => ClusterKeyCommand(dir, c.after("BY")(c.list()), out("table", "cluster_key"))
      case _ => // ROUTE
        c.kw("ALL")
        val isDefault = c.after("REFLECTIONS", "TO")(c.kw("DEFAULT"))
        c.oneOf("QUEUE", "ENGINE")
        RouteReflectionsCommand(dir, isDefault, if (c.atEnd) None else Some(c.name()),
          out("path", "queue"))
    }
  }

  // <refresh options>, shared by REFRESH DATASET and ALTER … REFRESH
  // METADATA (one handler in the reference too):
  //   [FOR ALL FILES|PARTITIONS] [FOR FILES ('<file>', …)]
  //   [FOR PARTITIONS (<col> = '<value>', …)] [FOR REGEX '<re>']
  //   [AUTO|AVOID PROMOTION] [FORCE|LAZY UPDATE] [DELETE|MAINTAIN WHEN MISSING]
  //   [ERROR ON CONCURRENT REFRESH]
  private def refreshDataset(c: Cursor, target: String): RefreshDatasetCommand = {
    if (c.kw("FOR", "ALL")) c.oneOf("FILES", "PARTITIONS")
    val files = if (c.kw("FOR", "FILES")) Some(c.paren(c.commaList(c.str()))) else None
    val partitions = if (!c.kw("FOR", "PARTITIONS")) None
      else Some(c.paren(c.commaList(c.word() -> { c.expectSym('='); c.str() })))
    val regex = c.strAfter("FOR", "REGEX")
    def flag(yes: String, no: String, tail: String*): Option[Boolean] =
      if (c.isKw(yes) || c.isKw(no)) {
        val w = c.oneOf(yes, no); c.expect(tail: _*); Some(w.equalsIgnoreCase(yes))
      } else None
    val promo = flag("AUTO", "AVOID", "PROMOTION")
    val force = flag("FORCE", "LAZY", "UPDATE")
    val deleteWhenMissing = flag("DELETE", "MAINTAIN", "WHEN", "MISSING")
    RefreshDatasetCommand(target, files, partitions, regex, promo, force, deleteWhenMissing,
      errorOnConcurrent = c.kw("ERROR", "ON", "CONCURRENT", "REFRESH"),
      out("dataset", "format", "files_total", "files_added", "files_removed", "status"))
  }

  /** `('<key>' = '<value>', …)`; `()` is empty. */
  private def properties(c: Cursor): Map[String, String] =
    c.paren(if (c.isSym(')')) Nil else c.commaList(c.str() -> { c.expectSym('='); c.str() })).toMap

  /** A rule after `BRANCH|TAG`: `build` gets the ref type and the ref's `<id>`. */
  private def ref(build: (String, String, Cursor) => LogicalPlan): Rule =
    c => build(c.last.toLowerCase(Locale.ROOT), c.name(), c)
  private def createRef = ref((t, n, c) =>
    CreateRefCommand(t, n, inLake(c, "FROM"), c.numAfter("VERSION", "AS", "OF")))
  private def dropRef = ref((t, n, c) => DropRefCommand(t, n, inLake(c, "FROM")))
  private def assignRef = ref((t, n, c) =>
    AssignRefCommand(t, n, c.after("ASSIGN", "VERSION")(c.number()), inLake(c)))
  private def useRef =
    ref((t, n, c) => UseRefCommand(t, n, inLake(c), out("ref", "type", "base_version")))

  private def showLogs(c: Cursor): LogicalPlan = {
    val refType = if (c.kw("AT")) Some(c.oneOf("BRANCH", "TAG").toLowerCase(Locale.ROOT)) else None
    ShowLogsCommand(refType, refType.map(_ => c.name()), inLake(c),
      out("version", "action", "timestamp_ms", "n_files", "tag"))
  }

  /** `<preposition> LAKE '<dir>'`. */
  private def inLake(c: Cursor, preposition: String = "IN"): String =
    c.after(preposition, "LAKE")(c.str())

  /** `[AT BRANCH|TAG <id>]`. */
  private def atRef(c: Cursor): Option[String] =
    if (c.kw("AT")) { c.oneOf("BRANCH", "TAG"); Some(c.name()) } else None

  private def grant(c: Cursor, granting: Boolean): LogicalPlan = {
    val verb = if (granting) "TO" else "FROM"
    if (c.kw("ROLE")) return GrantRoleCommand(c.name(), c.after(verb, "USER")(c.name()), granting)
    val privs = c.commaList(c.word())
    def single(allowed: String*): String = privs match {
      case Seq(p) if allowed.exists(_.equalsIgnoreCase(p)) => p
      case _ => throw NoMatch
    }
    c.expect("ON")
    // each arm reads its object, then `TO|FROM USER|ROLE <id>` completes it
    val build: (String, String) => LogicalPlan =
      if (c.isKw("BRANCH") || c.isKw("TAG")) {
        val (refType, ref, dir) = refInCatalog(c)
        GrantOnRefCommand(privs, refType, ref, dir, _, _, granting)
      } else if (c.kw("CATALOG")) {
        val dir = c.str(); GrantOnCatalogCommand(privs, dir, _, _, granting)
      } else if (c.kw("SCRIPT")) {
        val n = c.name(); GrantOnScriptCommand(privs, n, _, _, granting)
      } else if (c.kw("ALL", "DATASETS", "IN")) {
        val action = single("SELECT", "INSERT", "UPDATE", "DELETE", "ALTER", "DROP", "ALL")
        val (container, path) = (c.oneOf("FOLDER", "SOURCE").toLowerCase(Locale.ROOT), c.target())
        GrantAllDatasetsCommand(action, container, path, _, _, granting)
      } else if (granting && privs.map(_.toUpperCase(Locale.ROOT)) == Seq("OWNERSHIP")) {
        val obj = c.target(); GrantOwnershipCommand(obj, _, _, out("object", "owner_type", "owner"))
      } else {
        val action = single("SELECT", "INSERT", "UPDATE", "DELETE", "ALTER", "DROP", "EXECUTE", "ALL")
        val obj = c.target(); GrantCommand(action, obj, _, _, granting)
      }
    build(c.after(verb)(c.oneOf("USER", "ROLE")), c.name())
  }

  private def showGrants(c: Cursor): LogicalPlan = {
    val cols = out("grantee_type", "grantee", "privilege")
    if (!c.kw("ON"))
      ShowGrantsCommand(if (c.kw("FOR")) Some(c.name()) else None,
        out("grantee_type", "grantee", "privilege", "object"))
    else if (c.isKw("BRANCH") || c.isKw("TAG")) {
      val (refType, ref, dir) = refInCatalog(c)
      ShowGrantsOnRefCommand(refType, ref, dir, cols)
    } else if (c.kw("SCRIPT")) ShowGrantsOnScriptCommand(c.name(), cols)
    else ShowGrantsOnCommand(c.target(), cols)
  }

  /** `BRANCH|TAG <id> IN CATALOG '<dir>'` as (ref type, ref, dir). */
  private def refInCatalog(c: Cursor): (String, String, String) =
    (c.oneOf("BRANCH", "TAG").toLowerCase(Locale.ROOT), c.name(), c.after("IN", "CATALOG")(c.str()))

  private def scriptDdl(c: Cursor, create: Boolean): LogicalPlan =
    ScriptDdlCommand(c.name(), Some(c.after("AS")(c.str())), create, out("script", "owner"))

  private def queueDef(c: Cursor): (String, Int, Option[Long]) =
    (c.name(), c.after("SLOTS")(c.number().toInt), c.numAfter("TIMEOUT"))

  private def clearCache(c: Cursor): LogicalPlan = {
    val plan = c.oneOf("RESULT", "PLAN").equalsIgnoreCase("PLAN")
    c.after("CACHE")(if (plan) ClearPlanCacheCommand() else ClearResultCacheCommand())
  }

  /** `TIMESTAMP AS OF` and `OLDER_THAN` take epoch millis or an ISO date
    * or datetime, read in UTC (the engine's session time zone). */
  private def parseTsMillis(s: String): Long = {
    val t = s.trim
    if (t.matches("\\d+")) t.toLong
    else {
      val norm = if (t.contains("T") || t.contains(" ")) t.replace(' ', 'T') else t + "T00:00:00"
      java.time.LocalDateTime.parse(norm).toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }

  /** The SELECT a top-level `QUALIFY <pred>` rewrites to, if the statement
    * has one — the Dremio/Snowflake/DuckDB clause Spark's parser lacks
    * (reference: QUALIFY in dremio's calcite parser, `parserImpls.ftl`):
    *   SELECT <list> FROM <rest> QUALIFY <pred> [ORDER BY …] [LIMIT n]
    * → SELECT * EXCEPT (__qualify) FROM
    *     (SELECT <list>, (<pred>) AS __qualify FROM <rest>) AS __q
    *   WHERE __qualify [ORDER BY …] [LIMIT n]
    * The predicate joins the ORIGINAL select list, so it sees the FROM
    * clause's columns (QUALIFY's scope, not just the output) and, via
    * lateral column aliases, the select-list aliases; its window functions
    * evaluate over the post-grouping rows. Only depth-0 keywords outside
    * literals count, so a subquery's QUALIFY and string data never trigger
    * the rewrite. Not supported: a QUALIFY directly on a top-level set
    * operation (wrap the branch in a subquery instead). */
  def qualifyRewrite(c: Cursor): Option[String] = {
    def top(from: Int, until: Int)(p: Int => Boolean): Option[Int] =
      (from until until).find(k => c.toks(k).depth == 0 && p(k))
    val end = c.end
    (0 until end).reverse.find(k => c.toks(k).depth == 0 && c.isKw("QUALIFY", k)).map { q =>
      val trailer = top(q + 1, end)(k =>
        c.isKw("LIMIT", k) || c.isKw("ORDER", k) && c.isKw("BY", k + 1)).getOrElse(end)
      val pred = c.slice(q + 1, trailer)
      require(pred.nonEmpty && q > 0, "QUALIFY needs a query and a predicate")
      val from = top(0, q)(c.isKw("FROM", _)).getOrElse(
        throw new IllegalArgumentException("QUALIFY requires a FROM clause"))
      s"SELECT * EXCEPT (__qualify) FROM (${c.slice(0, from)}, ($pred) AS __qualify " +
        s"${c.slice(from, q)}) AS __q WHERE __qualify ${c.slice(trailer, end)}"
    }
  }
}

package graft.accel

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.SnapshotTable

class ResultCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("a repeated query is served from the cache (one hit, one miss)") {
    ResultCache.clearAll()
    def q = spark.range(0, 1000).select((col("id") % 7).as("k"))
      .groupBy("k").count()
    val a = ResultCache.cached(q)
    val (_, h0, m0) = ResultCache.stats
    assert(h0 == 0 && m0 == 1)
    // a DIFFERENT DataFrame instance with the same semantics hits
    val b = ResultCache.cached(q)
    val (_, h1, m1) = ResultCache.stats
    assert(h1 == 1 && m1 == 1)
    assert(b.collect().sortBy(_.getLong(0)).toSeq ==
      a.collect().sortBy(_.getLong(0)).toSeq)
    // and the hit's plan reads the persisted result, not the source
    val mem = b.queryExecution.executedPlan.toString
    assert(mem.contains("InMemory"), s"expected InMemoryTableScan, got:\n$mem")
    ResultCache.clearAll()
  }

  test("lake-version gating: a commit to the base table invalidates the entry") {
    ResultCache.clearAll()
    val dir = fresh("rc_lake")
    val t = SnapshotTable.create(spark, dir, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    def q = t.read().agg(sum(col("v")).as("total"))
    assert(ResultCache.cached(q).head().getDouble(0) == 30.0)
    // cache hit while the table is unchanged
    assert(ResultCache.cached(q).head().getDouble(0) == 30.0)
    val (_, h0, m0) = ResultCache.stats
    assert(h0 == 1 && m0 == 1)
    // advance the lake table — the cached entry must NOT serve stale data
    t.append(Seq((3L, 12.5)).toDF("id", "v"))
    assert(ResultCache.cached(q).head().getDouble(0) == 42.5)
    val (_, h1, m1) = ResultCache.stats
    assert(h1 == 1 && m1 == 2, "stale entry was served instead of recomputed")
    ResultCache.clearAll()
  }

  test("output alias names are part of the key (canonicalization erases them)") {
    ResultCache.clearAll()
    val asA = ResultCache.cached(spark.range(0, 100).agg(sum(col("id")).as("a")))
    val asB = ResultCache.cached(spark.range(0, 100).agg(sum(col("id")).as("b")))
    assert(asA.columns.toSeq == Seq("a"))
    assert(asB.columns.toSeq == Seq("b"), "hit returned a DataFrame with the wrong schema")
    val (_, h, m) = ResultCache.stats
    assert(h == 0 && m == 2, "same-plan different-alias queries must not collide")
    ResultCache.clearAll()
  }

  test("a scan pinned before a commit cannot serve readers of the new snapshot") {
    ResultCache.clearAll()
    val dir = fresh("rc_pin")
    val t = SnapshotTable.create(spark, dir, Seq((1L, 10.0)).toDF("id", "v"))
    val preCommitDf = t.read().agg(sum(col("v")).as("total")) // pins v1
    t.append(Seq((2L, 5.0)).toDF("id", "v")) // table moves to v2
    // the v1-pinned frame executes correctly but is NOT registered: its
    // pins are already superseded, so a slot would never serve anyone
    assert(ResultCache.cached(preCommitDf).head().getDouble(0) == 10.0)
    val (entries0, _, _) = ResultCache.stats
    assert(entries0 == 0, "stale-pinned frame burned a cache slot")
    // a fresh read pins v2 → different key → must recompute, not serve v1
    assert(ResultCache.cached(t.read().agg(sum(col("v")).as("total")))
      .head().getDouble(0) == 15.0, "stale pre-commit result served to a new reader")
    val (entries1, _, _) = ResultCache.stats
    assert(entries1 == 1, "current-snapshot frame should be registered")
    ResultCache.clearAll()
  }

  test("toString-truncation fingerprint collisions are caught structurally") {
    ResultCache.clearAll()
    // TreeNode.toString elides expression lists past maxToStringFields;
    // force truncation so two different projections share a fingerprint
    // (same aliases, difference only in an elided expression)
    val prev = spark.conf.get("spark.sql.debug.maxToStringFields")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1")
    try {
      val q1 = spark.range(0, 10).select((col("id") + 1).as("x"), (col("id") + 2).as("y"))
      val q2 = spark.range(0, 10).select((col("id") + 1).as("x"), (col("id") + 30).as("y"))
      assert(ResultCache.cached(q1).agg(sum(col("y"))).head().getLong(0) == 65L)
      // q2 must NOT be served q1's rows even if the fingerprints collide
      assert(ResultCache.cached(q2).agg(sum(col("y"))).head().getLong(0) == 345L,
        "fingerprint collision served the wrong cached result")
      val (_, h, _) = ResultCache.stats
      assert(h == 0, "colliding query must miss, not hit")
    } finally {
      spark.conf.set("spark.sql.debug.maxToStringFields", prev)
      ResultCache.clearAll()
    }
  }

  test("LRU eviction keeps the cache at maxEntries") {
    ResultCache.clearAll()
    val prev = ResultCache.maxEntries
    ResultCache.maxEntries = 2
    try {
      (1 to 4).foreach { i =>
        ResultCache.cached(spark.range(0, 100L + i).agg(count(lit(1)).as("n")))
      }
      val (entries, _, _) = ResultCache.stats
      assert(entries == 2)
    } finally {
      ResultCache.maxEntries = prev
      ResultCache.clearAll()
    }
  }

  test("CLEAR RESULT CACHE statement and sys_result_cache view") {
    ResultCache.clearAll()
    graft.catalog.InfoSchema.register(spark)
    ResultCache.cached(spark.range(0, 50).agg(max(col("id")).as("m")))
    ResultCache.cached(spark.range(0, 50).agg(max(col("id")).as("m")))
    val row = spark.sql(
      "SELECT count(*) AS entries, sum(hits) AS hits FROM sys_result_cache").head()
    assert(row.getLong(0) == 1L && row.getLong(1) == 1L)
    spark.sql("ALTER SESSION CLEAR RESULT CACHE")
    assert(spark.sql("SELECT * FROM sys_result_cache").count() == 0L)
    ResultCache.clearAll()
  }

  /** `count(*)` over 0..999 keeping the keys of the lake table at `dir`,
    * read only inside an IN-subquery, served through the result cache. */
  private def subqueryCount(dir: String): Long =
    graft.Graft.cached(graft.Graft.sql(spark,
      s"SELECT count(*) FROM range(0, 1000) WHERE id IN (SELECT k FROM lake_scan('$dir'))"))
      .head().getLong(0)

  test("a lake scan inside a subquery is part of the key: two tables never share an entry") {
    ResultCache.clearAll()
    val a = fresh("rc_subq_a") + "/t"
    val b = fresh("rc_subq_b") + "/t"
    spark.sql(s"CREATE LAKE '$a' AS SELECT id AS k FROM range(10)")
    spark.sql(s"CREATE LAKE '$b' AS SELECT id AS k FROM range(20)")
    try {
      assert(subqueryCount(a) == 10L)
      assert(subqueryCount(b) == 20L, "the query over b was served a's cached result")
      val (entries, h, _) = ResultCache.stats
      assert(entries == 2 && h == 0)
    } finally ResultCache.clearAll()
  }

  test("a commit to a lake table read only inside a subquery invalidates the entry") {
    ResultCache.clearAll()
    val a = fresh("rc_subq_pin") + "/t"
    spark.sql(s"CREATE LAKE '$a' AS SELECT id AS k FROM range(10)")
    try {
      assert(subqueryCount(a) == 10L)
      assert(subqueryCount(a) == 10L)
      assert(ResultCache.stats._2 == 1L, "the unchanged table should hit")
      spark.sql(s"INSERT INTO LAKE '$a' SELECT id + 10 AS k FROM range(5)")
      assert(subqueryCount(a) == 15L, "stale pre-commit result served after the commit")
    } finally ResultCache.clearAll()
  }
}

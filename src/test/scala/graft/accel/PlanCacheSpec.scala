package graft.accel

import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, TestSpark}
import graft.engine.Tables

/** Plan-cache semantics (reference `exec/planner/plancache/PlanCache.java`
  * probed from `NormalHandler.java:102`, invalidation per
  * `PlanCacheInvalidationHelper.java`): repeated statements reuse the
  * planned DataFrame; lake DML invalidates per-dataset through snapshot
  * pins; DDL/grants retire everything; DataFrame-API temp-view swaps are
  * caught by identity revalidation; non-deterministic and wall-clock
  * queries never cache; principals never share entries. */
class PlanCacheSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    Tables.ensure(s, TestSpark.sf)
    graft.catalog.InfoSchema.register(s)
    s
  }

  /** Plan reuse = sharing the memoized QueryExecution (hits return a
    * fresh caller-owned Dataset wrapper so abandonment reaping works). */
  private def sameQe(a: org.apache.spark.sql.DataFrame,
                     b: org.apache.spark.sql.DataFrame): Boolean =
    a.queryExecution eq b.queryExecution

  private def withCleanCache(body: => Unit): Unit = {
    spark // force init before clearing (init registers views = commands)
    PlanCache.clearAll()
    try body finally PlanCache.clearAll()
  }

  test("repeat statement returns the same planned DataFrame, with correct rows") {
    withCleanCache {
      val q = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"
      val a = Graft.sql(spark, q)
      val rowsA = a.collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq
      val b = Graft.sql(spark, q)
      assert(sameQe(b, a), "second statement must reuse the cached plan (same QueryExecution)")
      assert(b.collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq == rowsA)
      val row = Graft.sql(spark,
        "SELECT hits FROM sys_plan_cache WHERE statement LIKE '%n_regionkey%'").head()
      assert(row.getLong(0) == 1L)
    }
  }

  test("lake DML invalidates ONLY the mutated table's entries (per-dataset, via pins)") {
    withCleanCache {
      val d1 = java.nio.file.Files.createTempDirectory("pc_lake").toString + "/t1"
      val d2 = java.nio.file.Files.createTempDirectory("pc_lake").toString + "/t2"
      Graft.sql(spark, s"CREATE LAKE '$d1' AS SELECT id, id * 2 AS v FROM range(100)")
      Graft.sql(spark, s"CREATE LAKE '$d2' AS SELECT id FROM range(50)")
      val q1 = s"SELECT sum(v) AS s FROM lake_scan('$d1')"
      val q2 = s"SELECT count(*) AS n FROM lake_scan('$d2')"
      val a1 = Graft.sql(spark, q1); assert(a1.head().getLong(0) == 9900L)
      val a2 = Graft.sql(spark, q2); assert(a2.head().getLong(0) == 50L)
      assert(sameQe(Graft.sql(spark, q1), a1), "warm entry serves before the commit")
      // commit on t1: pin-governed — must NOT bump the global epoch
      Graft.sql(spark,
        s"INSERT INTO LAKE '$d1' SELECT id + 100 AS id, CAST(0 AS BIGINT) AS v FROM range(10)")
      val b1 = Graft.sql(spark, q1)
      assert(!sameQe(b1, a1), "t1's entry is stale after the commit")
      assert(b1.head().getLong(0) == 9900L, "replanned scan sees the new snapshot's sum")
      assert(sameQe(Graft.sql(spark, q2), a2), "t2's entry SURVIVES t1's commit (per-dataset)")
    }
  }

  test("DDL retires all entries; CLEAR PLAN CACHE clears on demand") {
    withCleanCache {
      val q = "SELECT count(*) AS n FROM region"
      val a = Graft.sql(spark, q)
      Graft.sql(spark, "CREATE OR REPLACE TEMP VIEW pc_ddl_probe AS SELECT 1 AS one")
      assert(!sameQe(Graft.sql(spark, q), a), "any DDL bumps the epoch")
      val b = Graft.sql(spark, q)
      assert(sameQe(Graft.sql(spark, q), b))
      Graft.sql(spark, "ALTER SESSION CLEAR PLAN CACHE")
      assert(!sameQe(Graft.sql(spark, q), b), "cleared cache replans")
    }
  }

  test("SHOW / EXPLAIN / DESCRIBE statements do not retire entries") {
    withCleanCache {
      val q = "SELECT count(*) AS n FROM customer"
      val a = Graft.sql(spark, q)
      Graft.sql(spark, "SHOW GRANTS").collect()
      Graft.sql(spark, "EXPLAIN SELECT 1").collect()
      assert(sameQe(Graft.sql(spark, q), a), "read-only commands keep the cache warm")
    }
  }

  test("a DataFrame-API temp-view swap is caught by identity revalidation") {
    withCleanCache {
      import spark.implicits._
      Seq(1, 2, 3).toDF("x").createOrReplaceTempView("pc_api_view")
      val q = "SELECT sum(x) AS s FROM pc_api_view"
      val a = Graft.sql(spark, q)
      assert(a.head().getLong(0) == 6L)
      assert(sameQe(Graft.sql(spark, q), a))
      // swap the view WITHOUT any SQL statement crossing the choke point
      Seq(10, 20).toDF("x").createOrReplaceTempView("pc_api_view")
      val b = Graft.sql(spark, q)
      assert(!sameQe(b, a), "replaced temp view must invalidate the entry")
      assert(b.head().getLong(0) == 30L)
      spark.catalog.dropTempView("pc_api_view")
    }
  }

  test("non-deterministic and wall-clock statements never cache") {
    withCleanCache {
      val r = "SELECT rand() AS r"
      assert(!sameQe(Graft.sql(spark, r), Graft.sql(spark, r)))
      val t = "SELECT current_timestamp() AS t"
      assert(!sameQe(Graft.sql(spark, t), Graft.sql(spark, t)))
      val sub = "SELECT id FROM range(3) WHERE id < (SELECT max(id) * rand() FROM range(5))"
      assert(!sameQe(Graft.sql(spark, sub), Graft.sql(spark, sub)),
        "non-determinism inside a subquery is seen too")
    }
  }

  test("principals never share entries; REVOKE is honored on the next statement") {
    withCleanCache {
      graft.auth.Privileges.clear()
      spark.conf.unset(graft.auth.Privileges.TokenConf)
      spark.conf.unset(graft.auth.Privileges.UserConf)
      try {
        Graft.sql(spark, "CREATE USER pc_admin PASSWORD 'ap' ADMIN")
        Graft.sql(spark, "CREATE USER pc_dana PASSWORD 'dp'")
        Graft.sql(spark, "GRANT SELECT ON nation TO USER pc_dana")
        Graft.sql(spark, "ALTER AUTH ENFORCE ON")
        Graft.sql(spark, "AUTHENTICATE USER pc_dana PASSWORD 'dp'")
        val q = "SELECT count(*) AS n FROM nation"
        val danas = Graft.sql(spark, q)
        assert(danas.head().getLong(0) == 25L)
        assert(sameQe(Graft.sql(spark, q), danas), "AUTHENTICATE/warm rerun serves the entry")
        // an ungranted principal must not ride dana's cached plan
        Graft.sql(spark, "AUTHENTICATE USER pc_admin PASSWORD 'ap'")
        Graft.sql(spark, "CREATE USER pc_eve PASSWORD 'ep'")
        Graft.sql(spark, "AUTHENTICATE USER pc_eve PASSWORD 'ep'")
        intercept[Exception](Graft.sql(spark, q))
        // REVOKE bumps: dana's previously analyzed plan is never re-served
        Graft.sql(spark, "AUTHENTICATE USER pc_admin PASSWORD 'ap'")
        Graft.sql(spark, "REVOKE SELECT ON nation FROM USER pc_dana")
        Graft.sql(spark, "AUTHENTICATE USER pc_dana PASSWORD 'dp'")
        intercept[Exception](Graft.sql(spark, q))
        Graft.sql(spark, "AUTHENTICATE USER pc_admin PASSWORD 'ap'")
        Graft.sql(spark, "ALTER AUTH ENFORCE OFF")
      } finally {
        graft.auth.Privileges.clear()
        spark.conf.unset(graft.auth.Privileges.TokenConf)
        spark.conf.unset(graft.auth.Privileges.UserConf)
      }
    }
  }

  test("fresh newSession() clones share entries (the wire pattern) unless session state diverges") {
    withCleanCache {
      val q = "SELECT count(*) AS n FROM range(100)"
      val s1 = spark.newSession(); val s2 = spark.newSession()
      val a = Graft.sql(s1, q)
      // cross-session hits REBIND ownership (fresh QueryExecution owned by
      // the caller) while sharing every memoized planning phase — plan
      // reuse is analyzed-tree identity, not wrapper identity
      val b = Graft.sql(s2, q)
      assert(b.queryExecution.analyzed eq a.queryExecution.analyzed,
        "per-statement wire clones must reuse each other's plans")
      assert(b.queryExecution.executedPlan eq a.queryExecution.executedPlan,
        "the physical plan is shared too — no replanning on a hit")
      // a session whose temp views shadow a name can never be served an
      // entry planned without the shadow (identity revalidation)
      val qv = "SELECT sum(x) AS s FROM pc_xsession_view"
      import spark.implicits._
      Seq(1, 2).toDF("x").createOrReplaceTempView("pc_xsession_view")
      val mine = Graft.sql(spark, qv)
      assert(mine.head().getLong(0) == 3L)
      intercept[Exception](Graft.sql(s1, qv).collect()) // s1 has no such view
      spark.catalog.dropTempView("pc_xsession_view")
      // a USE VERSION ref pin diverges the KEY (set directly — the SQL
      // statement form would retire entries via the epoch bump and mask
      // what this test pins down)
      val d = java.nio.file.Files.createTempDirectory("pc_ref").toString + "/t"
      Graft.sql(spark, s"CREATE LAKE '$d' AS SELECT id FROM range(20)")
      Graft.sql(spark, s"INSERT INTO LAKE '$d' SELECT id + 100 AS id FROM range(5)")
      val ql = s"SELECT count(*) AS n FROM lake_scan('$d')"
      val cur = Graft.sql(spark, ql)
      assert(cur.head().getLong(0) == 25L)
      graft.sources.SessionRefs.setVersion(spark, d, 1L)
      try {
        val pinned = Graft.sql(spark, ql)
        assert(!sameQe(pinned, cur), "ref-pinned session must not ride the unpinned plan")
        assert(pinned.head().getLong(0) == 20L, "pinned session reads version 1")
      } finally graft.sources.SessionRefs.clear(spark, d)
      assert(Graft.sql(spark, ql).head().getLong(0) == 25L)
    }
  }

  test("spark.graft.plan.cache=false bypasses the cache entirely") {
    withCleanCache {
      spark.conf.set("spark.graft.plan.cache", "false")
      try {
        val q = "SELECT count(*) AS n FROM supplier"
        assert(!sameQe(Graft.sql(spark, q), Graft.sql(spark, q)))
        assert(PlanCache.stats._1 == 0)
      } finally spark.conf.unset("spark.graft.plan.cache")
    }
  }

  test("a cross-session hit fires the CALLING session's QueryExecutionListener") {
    withCleanCache {
      val q = "SELECT sum(id) AS s FROM range(1000)"
      val s1 = spark.newSession(); val s2 = spark.newSession()
      val a = Graft.sql(s1, q); a.collect()
      val fired = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          fired.incrementAndGet()
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      s2.listenerManager.register(listener)
      try {
        val b = Graft.sql(s2, q)
        assert(b.queryExecution.analyzed eq a.queryExecution.analyzed, "must be a hit")
        b.collect()
        org.apache.spark.sql.graft.Bridge.waitListenerBus(s2)
        assert(fired.get >= 1,
          "the calling session's listener must fire on a cached-plan action — " +
            "WLM slots and running-queries entries retire through it")
      } finally s2.listenerManager.unregister(listener)
    }
  }

  test("DDL from a cache-DISABLED session still retires other sessions' entries") {
    withCleanCache {
      val q = "SELECT count(*) AS n FROM part"
      val a = Graft.sql(spark, q)
      assert(sameQe(Graft.sql(spark, q), a), "warm before the disabled-session DDL")
      val off = spark.newSession()
      off.conf.set("spark.graft.plan.cache", "false")
      Graft.sql(off, "CREATE OR REPLACE TEMP VIEW pc_off_probe AS SELECT 1 AS one")
      assert(!sameQe(Graft.sql(spark, q), a),
        "plan-retiring commands must bump the epoch even from a session " +
          "that opted out of the cache (REVOKE from such a session must " +
          "never leave authorization-stale plans serveable)")
    }
  }

  test("statements folding a live directory listing (MAXDIR family) never cache") {
    withCleanCache {
      val root = java.nio.file.Files.createTempDirectory("pc_maxdir")
      java.nio.file.Files.createDirectory(root.resolve("alpha"))
      java.nio.file.Files.createDirectory(root.resolve("beta"))
      val q = s"SELECT MAXDIR('$root') AS d"
      val a = Graft.sql(spark, q)
      assert(a.head().getString(0) == "beta")
      assert(!sameQe(Graft.sql(spark, q), a),
        "the folded Literal is a live filesystem read — caching it would " +
          "serve a stale directory extreme with no pin to invalidate it")
      // and the fold stays CURRENT statement-to-statement
      java.nio.file.Files.createDirectory(root.resolve("gamma"))
      assert(Graft.sql(spark, q).head().getString(0) == "gamma")
    }
  }

  test("a hit over a path-qualified table re-checks its file listing") {
    withCleanCache {
      val dir = java.nio.file.Files.createTempDirectory("pc_path").toString + "/t"
      spark.range(10).coalesce(1).write.parquet(dir)
      val q = s"SELECT count(*) FROM parquet.`$dir`"
      val a = Graft.sql(spark, q)
      assert(a.head().getLong(0) == 10L)
      assert(sameQe(Graft.sql(spark, q), a), "an unchanged listing still hits")
      spark.range(5).coalesce(1).write.mode("append").parquet(dir)
      assert(spark.sql(q).head().getLong(0) == 15L)
      val b = Graft.sql(spark, q)
      assert(!sameQe(b, a), "an appended file makes the cached plan stale")
      assert(b.head().getLong(0) == 15L, "the replanned statement reads the new file")
    }
  }
}

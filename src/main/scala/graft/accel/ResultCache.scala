package graft.accel

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Query result cache: serve a repeated query from its previously
  * materialized result instead of re-executing, invalidated when a base
  * lake table advances.
  *
  * Reference: the plan cache keyed on a normalized plan hash with
  * dataset-level invalidation (`exec/planner/plancache/PlanCache.java`,
  * `LegacyPlanCache.java`, invalidation via
  * `services/accelerator/.../plancache/PlanCacheInvalidationHelper.java`;
  * cleared by `ALTER ... CLEAR PLAN CACHE`,
  * `exec/planner/sql/parser/SqlAlterClearPlanCache.java`).
  *
  * Spark-first re-expression: caching a *physical plan* buys little in
  * Spark (Catalyst re-plans in milliseconds); the expensive thing to reuse
  * is the *result*, so entries pin the result RDD via `persist`
  * (MEMORY_AND_DISK — spills instead of OOMing on wide results).
  *
  * Cache key = canonical ANALYZED-plan fingerprint (the optimized plan of
  * a repeat query already holds the CacheManager's InMemoryRelation, so
  * analyzed is the stable identity) PLUS two identities canonicalization
  * erases:
  *  - the output column NAMES (canonicalization normalizes aliases, so
  *    `sum(v) AS a` and `sum(v) AS b` would otherwise collide and a hit
  *    would return a DataFrame with the wrong schema);
  *  - the lake snapshot VERSION each scan actually pinned
  *    (`LakeFileIndex.snapshotVersion`): a lake scan's path is stable
  *    across commits while its file list is snapshot-pinned, so without
  *    the version a DataFrame created before a commit could be registered
  *    under the same key as one created after — and serve stale rows.
  *    With the version in the key, an entry can only ever serve callers
  *    reading the exact same snapshot.
  *
  * Freshness mirrors reflection staleness (same `versionsCurrent` rule):
  * an entry whose pinned snapshot is no longer the table's latest is
  * dropped and recomputed rather than served — so the cache never pins a
  * superseded snapshot alive indefinitely. Non-lake sources have no
  * version authority and are assumed fresh, same contract as reflections.
  */
object ResultCache {

  private final case class Entry(key: String, df: DataFrame,
                                 baseVersions: Map[String, Long],
                                 hits: AtomicLong, insertedAt: Long,
                                 lastUsed: AtomicLong)

  private val cache = TrieMap.empty[String, Entry]
  private val hitCount = new AtomicLong()
  private val missCount = new AtomicLong()
  private val tick = new AtomicLong() // monotonic LRU clock (no wall time)

  /** Max cached results before LRU eviction (per JVM). */
  @volatile var maxEntries: Int = 32

  /** (plan fingerprint + output names + lake snapshot pins,
    *  lake dir -> pinned snapshot version). */
  private def keyOf(df: DataFrame): (String, Map[String, Long]) = {
    val plan = df.queryExecution.analyzed
    val pins = Reflections.lakePins(plan)
    val sb = new StringBuilder(Reflections.fingerprintPlan(plan))
    sb.append('|').append(plan.output.map(_.name).mkString(","))
    pins.toSeq.sorted.foreach { case (d, v) => sb.append('|').append(d).append('#').append(v) }
    // Principal-dependence needs no special term here: graft_principal()
    // folds to a literal during ANALYSIS (GraftExtensions), so two
    // principals' plans already differ in the fingerprint — including
    // inside SQL-UDF bodies via fingerprintPlan's SQLScalarFunction term
    // (PoliciesSpec pins the no-cross-principal-leak property).
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (key, pins)
  }

  /** Run `df` through the cache: on a fresh hit, the previously
    * materialized result is returned; otherwise the query executes, its
    * result is persisted and registered. The returned DataFrame is always
    * semantically (and schema-) equal to `df`. */
  def cached(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val (key, pins) = keyOf(df)
    cache.get(key) match {
      case Some(e) if Reflections.versionsCurrent(spark, e.baseVersions) =>
        hitCount.incrementAndGet(); e.hits.incrementAndGet()
        e.lastUsed.set(tick.incrementAndGet())
        e.df
      case stale =>
        stale.foreach { e => cache.remove(key, e); e.df.unpersist(blocking = false) }
        missCount.incrementAndGet()
        if (pins.nonEmpty && !Reflections.versionsCurrent(spark, pins)) {
          // Pinned to an already-superseded snapshot (time-travel read, or
          // a frame built before a commit): it could never pass the
          // freshness check on a future call, so registering it would only
          // burn a slot and pay persist+count for a result that is never
          // served. Execute uncached.
          return df
        }
        df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count() // materialize eagerly: "cached" must mean computed once
        val now = tick.incrementAndGet()
        val mine = Entry(key, df, pins, new AtomicLong(0), now, new AtomicLong(now))
        cache.putIfAbsent(key, mine) match {
          case Some(winner) =>
            // a concurrent miss registered first: keep the winner's entry,
            // release our duplicate persist instead of leaking it
            df.unpersist(blocking = false)
            winner.lastUsed.set(tick.incrementAndGet())
            winner.df
          case None =>
            evictIfOver()
            df
        }
    }
  }

  private def evictIfOver(): Unit =
    while (cache.size > maxEntries) {
      val lru = cache.values.toSeq.minBy(_.lastUsed.get)
      if (cache.remove(lru.key, lru)) lru.df.unpersist(blocking = false)
    }

  /** ALTER CLEAR PLAN CACHE analogue. */
  def invalidateAll(): Unit = {
    cache.values.foreach(_.df.unpersist(blocking = false))
    cache.clear()
  }

  def stats: (Int, Long, Long) = (cache.size, hitCount.get, missCount.get)

  /** Live rows for sys_result_cache. */
  final case class CacheRow(fingerprint: String, hits: Long,
                            lakeDeps: Int, insertedAtNs: Long)
  def listEntries: Seq[CacheRow] = cache.values.toSeq.sortBy(_.insertedAt)
    .map(e => CacheRow(e.key, e.hits.get, e.baseVersions.size, e.insertedAt))

  /** Test/diagnostic hook: reset counters and entries. */
  def clearAll(): Unit = { invalidateAll(); hitCount.set(0); missCount.set(0) }
}

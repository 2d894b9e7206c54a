package graft.sources

import java.util.Locale
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{DataSource, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Schema cache for path-qualified file tables (`` parquet.`/dir` ``,
  * `orc`, `json`, `csv`) — the reference discovers a dataset's schema
  * once, at metadata refresh, and enforces it on every query
  * (`exec/store/metadatarefresh/`), where Spark's `ResolveSQLOnFile`
  * infers it again for every statement: one schema-inference job (parquet
  * footers, a CSV header, a JSON sample) plus a Hive-metastore lookup of
  * the path as a table name.
  *
  * How a statement reaches it: the graft parser replaces every eligible
  * `UnresolvedRelation` with a [[PathTable]] marker ([[mark]]), which the
  * catalog lookup never sees, and the injected resolution rule [[Resolve]]
  * resolves the marker through Spark's own `DataSource`. The path is
  * listed on every resolution, as before. When the listing (each file's
  * path, length and modification time), the format, the options and the
  * session's `spark.sql.*` confs match a cached entry, `DataSource` gets
  * the cached schema as its user-specified schema and infers nothing;
  * any difference re-infers and replaces the entry. A warm resolution
  * must also reproduce the cached data and partition schemas exactly
  * (nullability and metadata included), or it is discarded for a cold
  * one, so the relation always equals Spark's own resolution.
  *
  * Left to Spark: time travel (`VERSION AS OF` wraps the relation, which
  * [[mark]] never descends into), streaming relations, names without a
  * `/` (a session-catalog table name never contains one, so `parquet.t`
  * keeps its catalog lookup), sessions with `spark.sql.runSQLOnFiles`
  * off or a catalog named like the format, and every resolution that
  * fails here — the marker falls back to the original relation, so
  * Spark reports its own error (a missing path, a bad option).
  *
  * Freshness: every relation resolved here carries a [[Pin]] (key,
  * schema, listing digest) that [[graft.accel.PlanCache]] checks on each
  * hit with [[current]], so a cached plan never outlives its listing.
  *
  * Scale: an entry holds two schemas and a listing digest (a few hundred
  * bytes, never the file list) under a fixed LRU cap; eviction is O(n)
  * over at most [[MaxEntries]]. Listing stays O(files) per resolution
  * and per plan-cache hit, the cost Spark's own resolution already pays.
  */
object FileMetadata {

  val Formats: Set[String] = Set("parquet", "orc", "json", "csv")

  /** Cached schemas per (format, path, options, session `spark.sql.*`
    * conf digest). */
  val MaxEntries = 512

  /** Parsed-plan stand-in for a path-qualified file table; resolved (or
    * handed back to Spark as `relation`) by [[Resolve]]. Not an
    * `UnresolvedRelation`, so the catalog lookup skips it. */
  final case class PathTable(relation: UnresolvedRelation) extends LeafNode {
    override def output: Seq[Attribute] = Nil
    override lazy val resolved: Boolean = false
  }

  final case class Key(format: String, path: String,
                       options: Seq[(String, String)], confs: String)

  /** What a plan resolved through this cache depends on: its key, the
    * schema it resolved to and the digest of the listing it read. */
  final case class Pin(key: Key, schema: StructType, listing: String)

  private val PinTag = TreeNodeTag[Pin]("graft.fileListing")

  private final class Entry(val key: Key, val dataSchema: StructType,
                            val partitionSchema: StructType, val schema: StructType,
                            val listing: String, val files: Int,
                            val hits: AtomicLong, val inferences: AtomicLong,
                            val lastUsed: AtomicLong)

  private val entries = new ConcurrentHashMap[Key, Entry]()
  private val tick = new AtomicLong()
  private val hitCount = new AtomicLong()
  private val inferenceCount = new AtomicLong()

  /** `plan` with every eligible path-qualified file relation replaced by
    * a [[PathTable]] — in CTE definitions and subquery expressions too. */
  def mark(plan: LogicalPlan): LogicalPlan = plan match {
    case u: UnresolvedRelation if isPathTable(u) => PathTable(u)
    case w: UnresolvedWith =>
      w.copy(child = mark(w.child), cteRelations = w.cteRelations.map {
        case (n, s, depth) => (n, mark(s).asInstanceOf[SubqueryAlias], depth)
      })
    case p => p.mapChildren(mark).transformExpressions {
      case s: SubqueryExpression => s.withNewPlan(mark(s.plan))
    }
  }

  private def isPathTable(u: UnresolvedRelation): Boolean =
    !u.isStreaming && u.multipartIdentifier.lengthCompare(2) == 0 &&
      Formats(u.multipartIdentifier.head.toLowerCase(Locale.ROOT)) &&
      u.multipartIdentifier(1).contains('/')

  /** Resolution rule for [[PathTable]] markers. It runs after
    * `ResolveSQLOnFile` in the same batch; the marker keeps that rule and
    * the catalog lookup off the relation. */
  final class Resolve(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
      case PathTable(u) => resolve(spark, u).getOrElse(u)
    }
  }

  /** The relation Spark's `ResolveSQLOnFile` would build for `u`, or None
    * to leave `u` to Spark. */
  private def resolve(spark: SparkSession, u: UnresolvedRelation): Option[LogicalRelation] = {
    val conf = spark.sessionState.conf
    val Seq(format, path) = u.multipartIdentifier
    if (!conf.runSQLonFile || conf.contains(s"spark.sql.catalog.$format")) return None
    val key = Key(format.toLowerCase(Locale.ROOT), path,
      u.options.asScala.toSeq.sorted, confDigest(spark))
    try {
      val (rel, listing) = Option(entries.get(key)).flatMap(warm(spark, _))
        .getOrElse(infer(spark, key))
      val lr = LogicalRelation(rel)
      listing.foreach(l => lr.setTagValue(PinTag, Pin(key, rel.schema, l)))
      Some(lr)
    } catch { case NonFatal(_) => None }
  }

  /** The relation over `e`'s cached schema, when the listing still
    * matches and the schemas come out exactly as cached. */
  private def warm(spark: SparkSession, e: Entry): Option[(HadoopFsRelation, Option[String])] =
    (try Some(relation(spark, e.key, Some(e.schema))) catch { case NonFatal(_) => None })
      .filter(h => h.dataSchema == e.dataSchema && h.partitionSchema == e.partitionSchema &&
        listingOf(h).exists(_._1 == e.listing))
      .map { h =>
        e.hits.incrementAndGet(); hitCount.incrementAndGet()
        e.lastUsed.set(tick.incrementAndGet())
        h -> Some(e.listing)
      }

  /** Spark's own resolution (schema inference included); caches the
    * result when its file index is a plain listing. */
  private def infer(spark: SparkSession, key: Key): (HadoopFsRelation, Option[String]) = {
    val h = relation(spark, key, None)
    inferenceCount.incrementAndGet()
    val listing = listingOf(h)
    listing.foreach { case (digest, files) =>
      entries.compute(key, (_, old) => new Entry(key, h.dataSchema, h.partitionSchema,
        h.schema, digest, files,
        new AtomicLong(if (old == null) 0 else old.hits.get),
        new AtomicLong(if (old == null) 1 else old.inferences.get + 1),
        new AtomicLong(tick.incrementAndGet())))
      evictIfOver()
    }
    h -> listing.map(_._1)
  }

  private def relation(spark: SparkSession, key: Key,
                       schema: Option[StructType]): HadoopFsRelation =
    DataSource(spark, className = key.format, paths = Seq(key.path),
      userSpecifiedSchema = schema, options = key.options.toMap)
      .resolveRelation() match {
      case h: HadoopFsRelation => h
      case other => throw new IllegalStateException(
        s"${key.format} resolved to ${other.getClass.getName}, not a file relation")
    }

  /** (digest, file count) of the files a relation reads, or None when its
    * index is not a directory listing (a streaming sink's metadata log). */
  private def listingOf(h: HadoopFsRelation): Option[(String, Int)] = h.location match {
    case i: InMemoryFileIndex =>
      val files = i.allFiles().map(f =>
        s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}").sorted
      Some(md5(files.mkString("\n")) -> files.length)
    case _ => None
  }

  private def confDigest(spark: SparkSession): String =
    md5(spark.sessionState.conf.getAllConfs.toSeq
      .filter(_._1.startsWith("spark.sql.")).sorted.mkString("\n"))

  /** Every [[Pin]] in an analyzed plan, subqueries included. */
  def pins(plan: LogicalPlan): Seq[Pin] =
    (plan +: plan.subqueriesAll)
      .flatMap(_.collect { case lr: LogicalRelation => lr.getTagValue(PinTag) }.flatten)
      .distinct

  /** Would each pinned relation resolve to the same listing in `spark`'s
    * session now? Lists every pinned path once. */
  def current(spark: SparkSession, pins: Seq[Pin]): Boolean =
    pins.isEmpty || {
      val confs = confDigest(spark)
      pins.forall { p =>
        p.key.confs == confs &&
          (try listingOf(relation(spark, p.key, Some(p.schema))).exists(_._1 == p.listing)
           catch { case NonFatal(_) => false })
      }
    }

  private def evictIfOver(): Unit =
    while (entries.size > MaxEntries) {
      val lru = entries.values.asScala.minBy(_.lastUsed.get)
      entries.remove(lru.key, lru)
    }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Live rows for sys_file_metadata. */
  final case class EntryRow(format: String, path: String, files: Int,
                            schemaDigest: String, hits: Long, inferences: Long)
  def listEntries: Seq[EntryRow] = entries.values.asScala.toSeq
    .map(e => EntryRow(e.key.format, e.key.path, e.files, md5(e.schema.json),
      e.hits.get, e.inferences.get))
    .sortBy(r => (r.path, r.format))

  /** (entries, warm resolutions, inferences) since the last [[clearAll]]. */
  def stats: (Int, Long, Long) = (entries.size, hitCount.get, inferenceCount.get)

  /** Test/diagnostic hook: drop entries and counters. */
  def clearAll(): Unit = { entries.clear(); hitCount.set(0); inferenceCount.set(0) }
}

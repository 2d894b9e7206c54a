package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture catalog: the driver-generated TPC-H-ish star schema plus the
  * `events`/`documents`/`embeddings` extras (see /root/repo/FIXTURES.md).
  *
  * Mirrors the reference's namespace catalog (dremio-oss
  * `services/namespace`, `exec/catalog/`) at the smallest useful scale: a
  * named-dataset registry over parquet directories, exposed both as
  * DataFrames and as temp views so `spark.sql` works against the same names.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def path(name: String): String = s"$dir/$name.parquet"

  /** Read a fixture table, normalizing types to the engine's conventions:
    * `events.ts` arrives as parquet TIMESTAMP(NANOS) (no Spark equivalent;
    * read as raw nanos via `spark.sql.legacy.parquet.nanosAsLong`) and is
    * truncated to a µs timestamp — same truncation DuckDB applies, so oracle
    * comparisons line up.
    */
  def table(name: String): DataFrame = {
    val df = spark.read.parquet(path(name))
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // `div` (integral division): ns counts exceed 2^53, so `/` (double
      // division) would lose the low microseconds.
      df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")).cast("timestamp_ntz"))
    else df
  }

  lazy val region: DataFrame = table("region")
  lazy val nation: DataFrame = table("nation")
  lazy val customer: DataFrame = table("customer")
  lazy val supplier: DataFrame = table("supplier")
  lazy val part: DataFrame = table("part")
  lazy val orders: DataFrame = table("orders")
  lazy val lineitem: DataFrame = table("lineitem")
  lazy val events: DataFrame = table("events")
  lazy val documents: DataFrame = table("documents")
  lazy val embeddings: DataFrame = table("embeddings")
}

object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val lastRegistered =
    scala.collection.concurrent.TrieMap.empty[SparkSession, (String, Tables)]

  /** Register every fixture table as a temp view + register graft functions.
    * Cached per session while the dir is unchanged: registering re-reads
    * every parquet footer, which would otherwise tax each `spark.sql`
    * query. Switching dirs re-registers (views are session-global). Keyed
    * by the session itself (identity equality), so no two sessions can
    * share an entry.
    */
  def ensure(spark: SparkSession, dir: String): Tables =
    lastRegistered.get(spark) match {
      case Some((d, t)) if d == dir => t
      case _ =>
        val t = Tables(spark, dir)
        names.foreach(n => t.table(n).createOrReplaceTempView(n))
        graft.functions.Functions.registerAll(spark)
        lastRegistered.put(spark, (dir, t))
        t
    }
}

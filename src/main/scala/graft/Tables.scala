package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.CatalogPlugin
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Loader for the driver-generated parquet tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. All queries in [[SparkEntry]]
  * take the sfDir as a parameter so the same code runs at any scale factor
  * (sf0.001 smoke → sf0.1 bench → a real 100 TB lake: the path is the only
  * thing that changes; the plans are declarative and partition-parallel).
  *
  * Every read is a fresh `LogicalRelation` over a parquet relation that
  * is resolved once per session and file version ([[SessionCache]]).
  * Resolving a table infers its schema (one Spark job), lists the file,
  * looks the format up and copies the Hadoop conf, and [[registerViews]]
  * reads all ten tables for every SQL-frontend query. Without a schema
  * cache, 10 of h09's 21 jobs per run were schema jobs and building its
  * DataFrame took ≈1160 of its ≈1750 ms; with the schema cached but the
  * relation resolved on every read, the build still took ≈150 ms, ≈30 ms
  * with the relation cached (sf0.01, `local[2]`, 4-core VM).
  */
object Tables {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

  /** TPC-H-ish star schema + events stream table + LLM-pipeline tables. */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any realistic scale. */
  val broadcastable: Set[String] = Set("region", "nation")

  /** Scan-parallelism RESTORE for small, unsplittable inputs. The
    * driver testdata ships each table as ONE parquet row group, and a
    * row group is Spark's minimum scan split — so every scan plans a
    * single task and the whole fused scan→project→explode→partial-agg
    * phase runs on one core while the other 31 idle (measured: t19's
    * corpus explode 1.7 s single-task at sf0.1; the same work 32-way
    * is trivially parallel). At production scale the input arrives as
    * many row groups/files and the scan is natively parallel — this
    * conditional exists only to give the testbed the parallelism real
    * inputs have, and it provably cannot fire at scale: it triggers
    * only below [[SmallInputBytes]] (64 MB), where the round-robin
    * redistribution it inserts costs at most one small-file shuffle.
    * Tiny dimension tables (< 100 KB: region/nation/supplier) are left
    * alone — they broadcast anyway and a 32-way spray of 5 rows is
    * pure stage overhead. `embeddings` and `documents` are ALSO left
    * alone at the accessor level, measured: the k-means training paths
    * run many small driver actions over the 500-row embeddings frame,
    * and each action re-pays the extra shuffle stage (s7 4.9 → 6.1 s,
    * d18 4.8 → 8.3 s with a blanket restore); the same goes for
    * multi-branch document plans whose per-branch work is light (t20
    * 1.35 → 2.05 s). Operators whose corpus pass IS the cost — a heavy
    * per-row explode pipeline — opt in explicitly via [[parallel]]
    * (t19 4.5 → 2.2 s, t25 6.0 → 1.6 s at sf0.1, measured).
    * RoundRobinPartitioning is used (not a hash) so the plan guards
    * that forbid corpus columns in HASH/RANGE exchanges still mean
    * what they say: data may be redistributed RAW off the scan, but
    * never keyed on content it shouldn't shuffle on. */
  private val SmallInputBytes = 64L << 20
  private val TinyInputBytes = 100L << 10
  private val leaveAlone = Set("embeddings", "documents")

  private def restoreParallelism(spark: SparkSession, df: DataFrame,
                                 path: String): DataFrame = {
    val bytes = new java.io.File(path).length
    if (bytes > TinyInputBytes && bytes < SmallInputBytes)
      df.repartition(GraftSession.defaultCpus)
    else df
  }

  /** Explicit opt-in scan-parallelism restore (see above) for operators
    * whose single corpus pass carries heavy per-row work. Idempotent
    * with [[apply]]'s own restore: tables outside [[leaveAlone]] come
    * back unchanged (already restored). */
  def parallel(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = apply(spark, sfDir, name)
    if (leaveAlone(name))
      restoreParallelism(spark, df, s"$sfDir/$name.parquet")
    else df
  }

  /** A file version under one session's parquet settings: the qualified
    * path, its length and modification time, and the session's explicitly
    * set confs whose name mentions parquet (they steer how a footer maps
    * to Spark types, e.g. `spark.sql.legacy.parquet.nanosAsLong`). */
  private[Tables] final case class FileKey(path: String, length: Long,
                                           modified: Long, confs: Map[String, String])

  /** A view [[registerViews]] registered: the relation it reads and the
    * plan the session catalog stored for it. */
  private[Tables] final case class Registered(relation: BaseRelation, plan: LogicalPlan)

  /** One session's resolved relations (one file version per path) and the
    * views [[registerViews]] registered in it.
    *
    * A cached `HadoopFsRelation` holds its session, so a JVM-wide map
    * keyed on sessions would keep every session it ever served reachable.
    * This class is instead a catalog plugin: Spark builds one instance
    * per session and catalog name, held only by that session's catalog
    * manager, so the cache lives and dies with its session. It lists no
    * tables; the plugin interface is only its way to be session-owned. */
  final class SessionCache extends CatalogPlugin {
    private var catalogName = ""
    override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
      catalogName = name
    override def name(): String = catalogName
    private[Tables] val relations =
      new ConcurrentHashMap[String, (FileKey, BaseRelation)]()
    private[Tables] val views = new ConcurrentHashMap[String, Registered]()
  }

  private val CacheCatalog = "graft_tables"

  private def cacheOf(spark: SparkSession): SessionCache = {
    val conf = s"spark.sql.catalog.$CacheCatalog"
    if (spark.conf.getOption(conf).isEmpty)
      spark.conf.set(conf, classOf[SessionCache].getName)
    // the catalog manager reads a plugin's conf from the thread's active
    // session, which need not be this one
    val active = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    try spark.sessionState.catalogManager.catalog(CacheCatalog)
      .asInstanceOf[SessionCache]
    finally active.fold(SparkSession.clearActiveSession())(
      SparkSession.setActiveSession)
  }

  /** The relation `spark.read.parquet(path)` resolves, resolved once per
    * session and file version (one Hadoop `getFileStatus` per call keys
    * it). Resolving lists the file, looks the format up and infers the
    * schema (one Spark job): most of a query's driver time when the SQL
    * frontend reads all ten tables per query.
    * Overwriting the file changes its length or modification time, so
    * the next read resolves again. A directory (a multi-file dataset) is
    * not cached: its own status does not change when a file inside it is
    * rewritten. */
  private def relation(spark: SparkSession, path: String): BaseRelation = {
    def resolve(): BaseRelation = spark.read.parquet(path).queryExecution
      .analyzed.collectFirst { case r: LogicalRelation => r.relation }.get
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    if (!st.isFile) return resolve()
    val key = FileKey(st.getPath.toString, st.getLen, st.getModificationTime,
      spark.conf.getAll.filter(_._1.contains("parquet")))
    cacheOf(spark).relations.compute(key.path, (_, cached) =>
      if (cached != null && cached._1 == key) cached else (key, resolve()))._2
  }

  /** The schema `spark.read.parquet(path)` would infer, from the cached
    * relation. */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType =
    relation(spark, path).schema

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    frame(spark, relation(spark, path), name, path)
  }

  /** A fresh `LogicalRelation` (fresh attribute ids, so two reads of one
    * table in one query self-join correctly) over the shared relation. */
  private def frame(spark: SparkSession, rel: BaseRelation, name: String,
                    path: String): DataFrame = {
    val raw = spark.baseRelationToDataFrame(rel)
    val df =
      if (leaveAlone(name)) raw
      else restoreParallelism(spark, raw, path)
    // Normalize events.ts across driver testdata generations: older data
    // is TIMESTAMP(NANOS) parquet, which Spark reads as raw nanos
    // (spark.sql.legacy.parquet.nanosAsLong, set in GraftSession) —
    // truncate to micros exactly like DuckDB does; newer data is
    // TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    // TIMESTAMP_NTZ — cast to TIMESTAMP_LTZ (session TZ is pinned UTC,
    // so the instant equals DuckDB's naive read of the same file).
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  /** Register every table as a temp view (for spark.sql / SQL tests).
    * A view is registered again only if its file version changed (a new
    * relation) or the view no longer holds the plan this method stored
    * (a caller replaced or dropped it); otherwise the call leaves it as it
    * is and starts no Spark job. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    val registered = cacheOf(spark).views
    val catalog = spark.sessionState.catalog
    def stored(n: String) = catalog.getRawTempView(n).flatMap(_.plan)
    all.foreach { n =>
      val path = s"$sfDir/$n.parquet"
      val rel = relation(spark, path)
      val last = registered.get(n)
      if (last == null || !(last.relation eq rel) ||
          !stored(n).exists(_ eq last.plan)) {
        frame(spark, rel, n, path).createOrReplaceTempView(n)
        registered.put(n, Registered(rel, stored(n).get))
      }
    }
  }
}

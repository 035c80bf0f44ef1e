package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale-oriented defaults.
  *
  * Local runs use `local[N]`; on a real cluster the same settings apply —
  * AQE re-plans shuffles at runtime (coalescing small partitions, converting
  * sort-merge joins to broadcast when a side turns out small, splitting
  * skewed partitions), which is the main knob that keeps these plans honest
  * when the data is 1000× bigger than the test scale factors.
  *
  * Every session it builds carries [[GraftExtensions]], so graft's native
  * SQL functions resolve in it and in its `newSession()` children.
  */
object GraftSession {
  def builder(master: String = s"local[${defaultCpus}]",
              shufflePartitions: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // testdata events.ts is TIMESTAMP(NANOS), which Spark's parquet
      // reader rejects natively; read as long and convert in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheMaxEntries.toString)
      .withExtensions(new GraftExtensions)

  /** Capacity of Spark's JVM-wide cache of generated classes
    * (`spark.sql.codegen.cache.maxEntries`, 100 by default). graft
    * re-plans the same queries over and over: every epoch of a streaming
    * maintainer, every pass of a bench family, every spec in the test
    * JVM. A working set larger than the cache is recompiled on every
    * run, at ~9–13 ms per class. The largest recurring working set is one
    * warm-up pass of the largest `Bench` family (q, 58 queries at
    * sf0.001): 1,044 distinct classes, of which the default cache kept
    * so few that its second pass recompiled 1,234. One cycle of
    * maintainer #13's epoch plus the h09 + q47 query pass is ~145.
    * Guava evicts LRU per segment (four segments of size/4), so the
    * cache needs headroom over the working set, not just a larger size;
    * 2000 is ~2× the q family, and its second pass then compiles only
    * the ~50 classes whose code differs from run to run. Spark reads the
    * value once, when the first session in the JVM generates code, so a
    * JVM that builds sessions outside this builder must set the same
    * value. */
  val CodegenCacheMaxEntries: Int = 2000

  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors().min(32))

  /** Shared session for tests / ad-hoc use. */
  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

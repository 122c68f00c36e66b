package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine: graftbench, the specs,
  * every main (`Bench`, `Verify`, `ScaleProbe`, through [[forMain]]) and
  * README users build their session here, so all of them run one regime.
  * The knobs are the ones a cluster deployment would set too:
  *   - AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  *     partition counts when data volume moves 100×.
  *   - 64 MB broadcast-join threshold (Spark's default is 10 MB).
  *   - shuffle.partitions small locally; at cluster scale this is overridden
  *     by `spark.sql.adaptive.coalescePartitions.initialPartitionNum`.
  *   - UTC session timezone so timestamp semantics match the DuckDB oracle.
  *   - `parquet.nanosAsLong`: the events table carries INT64 TIMESTAMP(NANOS)
  *     which Spark's reader rejects; we read raw nanos and downcast (see
  *     [[graft.sources.Tables.events]]).
  *   - codegen class cache of [[CodegenCacheEntries]] entries, see there.
  */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is an
    * LRU, and a workload that cycles through more classes than an LRU
    * holds misses on every lookup: every repeat of a plan recompiles every
    * class with Janino. One round of graftbench's `analytics_sql` compiles
    * 135-147 distinct classes and one `store_lifecycle` round about 185
    * (125 and 185 recompiles a round at the default). 2000 is about six
    * times the ~335 classes of both workloads together.
    *
    * The setting is static: Spark reads it once per JVM, when the first
    * generated class is compiled. The first session in a JVM fixes it,
    * and a session built outside [[builder]] does not set it. */
  val CodegenCacheEntries = 2000

  def builder(
      appName: String = "graft",
      master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")

  def local(): SparkSession = builder().getOrCreate()

  /** The session of graft's mains: `local[n]` with `n` shuffle partitions,
    * where `n` is `SPARK_GRAFT_CPUS` or else the JVM's available
    * processors; Spark's log at WARN. */
  def forMain(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = builder(master = s"local[$cpus]", shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply graft's session-level settings to an externally built session
    * (one not from [[builder]]); safe to call repeatedly. Static settings,
    * the codegen cache among them, cannot be applied here. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }
}

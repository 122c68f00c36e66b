package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the ten driver-generated test tables (TESTDATA.md).
  *
  * All loads are bare parquet scans so Catalyst sees the files directly:
  * column pruning and predicate pushdown reach the reader (`PushedFilters` /
  * `ReadSchema` in explain), which at 100 TB is the difference between
  * scanning the columns a query touches and scanning everything.
  *
  * The reference ingests one permissive CSV
  * (`read_csv_auto('hotels.csv', ignore_errors=true)`, reference main.py:30);
  * [[csv]] is the equivalent tolerant reader for user-supplied files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case n        => readStable(spark, dir, n)
    }

  /** Read a table with its schema served from a driver-side cache keyed
    * by (path, on-disk stamp) — floor discipline: a bare
    * `spark.read.parquet` runs a one-task SCHEMA-INFERENCE JOB per call,
    * and this engine's query functions re-resolve their tables on every
    * invocation (10 jobs for one [[registerViews]] — measured as the
    * single largest job-count term across the suite). Supplying the
    * once-inferred schema skips that job while changing nothing else:
    * same relation, same pruning/pushdown, and the stamp key re-infers
    * whenever the files change on disk (the [[graft.operators
    * .PipelineCache]] staleness contract applied to metadata). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, org.apache.spark.sql.types.StructType)]

  private def readStable(spark: SparkSession, dir: String, name: String): DataFrame =
    stableParquet(spark, s"$dir/$name.parquet")

  /** [[readStable]] generalized to ANY engine-managed parquet path —
    * persisted-store bodies included (a warm store query re-reads its
    * bodies every call, each read otherwise re-paying the inference
    * job; the census pays one per body). The key is the path's
    * [[graft.operators.Store.stamp]], listed through the Hadoop
    * FileSystem, so the cache works on any Hadoop filesystem URI; an
    * absent path falls through to a plain read. A store rebuild/absorb
    * changes the file listing, flips the stamp, and re-infers.
    * Partition-discovered columns (e.g. the IVF stores' `cell`) are part
    * of the inferred schema and round-trip through the user-specified-
    * schema read unchanged — PartitionFilters pruning still applies
    * (spec-pinned by the store suites). */
  def stableParquet(spark: SparkSession, path: String): DataFrame = {
    val stamp = graft.operators.Store.stamp(spark, new org.apache.hadoop.fs.Path(path))
    if (stamp.isEmpty) return spark.read.parquet(path)
    val schema = schemaCache.get(path) match {
      case (st, sch) if st == stamp => sch
      case _ =>
        val sch = spark.read.parquet(path).schema
        schemaCache.put(path, (stamp, sch))
        sch
    }
    spark.read.schema(schema).parquet(path)
  }

  /** events.parquet's `ts` physical type has varied across driver data
    * generations — INT64 TIMESTAMP(NANOS) in some drops, TIMESTAMP(MICROS)
    * in others — so the loader adapts to the schema it actually reads
    * rather than assuming either:
    *
    *  - nanos: Spark's parquet reader rejects INT64 nanos outright; with
    *    `spark.sql.legacy.parquet.nanosAsLong` the column arrives as raw
    *    BIGINT nanos; integer-divide (not double-divide — epoch nanos
    *    exceed 2^53) down to micros, the same truncation DuckDB applies
    *    internally, so oracle comparisons agree.
    *  - micros: arrives as TIMESTAMP_NTZ (no parquet tz annotation); cast
    *    to session-local TIMESTAMP — the session is pinned UTC
    *    ([[graft.GraftSession]]), so wall values are unchanged and window/
    *    date_trunc arithmetic matches DuckDB's UTC reading exactly.
    *
    * Either way downstream operators see one canonical `ts: TIMESTAMP`.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readStable(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** `documents` rebalanced for a CPU-BOUND kernel when the storage
    * layout under-splits: hash/tokenize kernels (minhash, simhash,
    * gram hashing, BPE) cost far more per byte than the scan, so when
    * the reader yields fewer splits than cores (single-row-group files
    * → ONE task carrying the whole kernel pass) a round-robin
    * repartition buys full parallelism for one cheap shuffle of the raw
    * text. At deployment scale the scan has thousands of splits, the
    * condition is false, and this is a plain [[documents]] — the
    * rebalance never costs anything at the scale where shuffling the
    * corpus would hurt. Callers must be order-insensitive (all are:
    * aggregations, sorted capped collects, per-row maps). */
  private val balanceCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), (String, Boolean)]

  def documentsBalanced(spark: SparkSession, d: String): DataFrame = {
    val df = documents(spark, d)
    val cores = spark.sparkContext.defaultParallelism
    // the split probe (.rdd compiles the physical plan and computes file
    // splits) is itself repeated driver work on hot per-query paths —
    // cache the verdict per (path, cores) KEY with the stamp in the
    // value: the verdict depends on the session's parallelism, and
    // keying (not just stamping) by cores lets sessions with different
    // parallelism coexist instead of ping-ponging one slot
    val key = (s"$d/documents.parquet", cores)
    val stamp = graft.operators.Store.stamp(spark, d, "documents.parquet")
    val underSplit = balanceCache.get(key) match {
      case (st, v) if st == stamp => v
      case _ =>
        val v = df.rdd.getNumPartitions < cores
        balanceCache.put(key, (stamp, v))
        v
    }
    if (underSplit) df.repartition(cores) else df
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Register every table as a temp view — the SQL front door: after one
    * call, `spark.sql("SELECT ... FROM lineitem JOIN orders ...")` works
    * against the dataset, which is how a user of the SQL-first reference
    * (main.py runs raw DuckDB SQL) naturally drives this engine. Views
    * are lazy plan aliases over the bare parquet scans — pruning and
    * pushdown still reach the reader; re-registering for a different dir
    * simply repoints the names. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    for (n <- names) apply(spark, dir, n).createOrReplaceTempView(n)

  /** Permissive CSV reader: header inference + malformed-row drop, the Spark
    * rendering of the reference's `read_csv_auto(..., ignore_errors=true)`.
    */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("mode", "DROPMALFORMED")
      .csv(path)
}

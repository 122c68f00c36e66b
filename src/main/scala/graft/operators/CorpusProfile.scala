package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted incremental corpus profile — the monitoring sibling of
  * [[GramIndex]]: per-source statistics of the established corpus,
  * maintained between crawls WITHOUT re-scanning corpus text.
  *
  * Each `<path>/rows` parquet row is one source bucket:
  *   - `n_docs`, `n_chars` — exact additive counters;
  *   - `content_hll` — a Datasketches HLL sketch (lgK=12, ~4 KB) of the
  *     bucket's `md5(text)` values. Distinct-content cardinality is the
  *     one profile statistic that is NOT additive (re-crawled duplicates
  *     land in several batches), so it is carried as a MERGEABLE sketch:
  *     HLL register state is a max per register, so folding a batch
  *     sketch into the profile is lossless — the absorbed profile's
  *     estimate is IDENTICAL to a from-scratch rebuild's (spec-pinned),
  *     at any corpus size, with no rescan.
  *
  * `n_docs − distinct_estimate` per bucket is the duplication monitor a
  * crawl pipeline actually watches between admissions ("is source X
  * suddenly 40% duplicate?") — reading it costs one ≤|sources|-row
  * parquet read once the profile exists.
  *
  * Stamp, meta, staged commit and freshness follow [[Store]]; the
  * binding is the excluded batch source.
  */
object CorpusProfile {

  /** Bump when the sketch config or row schema changes — an old profile
    * must never be served false-fresh into a merge with incompatible
    * sketch state. */
  private[graft] val FormatVersion = "profile-v1:hll12"

  /** No default binding: [[corpusProfile]] adopts whichever batch an
    * [[absorb]] rotated the profile to. */
  private[graft] val store = Store.Decl("corpus_profile", "graft_corpus_profile",
    "documents.parquet", Seq("rows"), None)(_ => FormatVersion)

  private val LgK = 12

  /** Per-source profile rows of `docs` (one aggregation, map-side
    * combined; NULL source is its own bucket — the established-corpus
    * convention). */
  private def profileOf(docs: DataFrame): DataFrame =
    docs
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        expr(s"hll_sketch_agg(md5(text), $LgK)").as("content_hll"))

  /** Build (overwrite) the profile at `path` from every document that is
    * NOT the incoming batch (`source != deltaSource`; NULL = corpus). */
  def build(
      s: SparkSession,
      dir: String,
      path: String,
      deltaSource: String = GramIndex.DefaultDeltaSource): Unit = {
    val corpus = Tables
      .documents(s, dir)
      .filter(coalesce(col("source") =!= deltaSource, lit(true)))
    commit(s, dir, path, deltaSource, profileOf(corpus))
  }

  private def commit(s: SparkSession, dir: String, path: String, binding: String, rows: DataFrame) =
    Store.commit(s, store, dir, path, binding)(
      "rows" -> ((p: String) => rows.write.mode("overwrite").parquet(p)))

  /** Fold an admitted batch into the profile and rotate the excluded
    * source — preconditions: [[Store.absorbable]]'s. Cost:
    * one batch-side scan (filter-pushed) + a ≤|sources|-row merge — the
    * corpus text is never re-read. Counters add; sketches merge via
    * `hll_union_agg` (lossless register max), so the result is
    * estimate-identical to a rebuild. */
  def absorb(
      s: SparkSession,
      dir: String,
      path: String,
      oldDelta: String = GramIndex.DefaultDeltaSource,
      newDelta: String = "src20"): Unit = {
    Store.absorbable(s, store, dir, path, oldDelta, newDelta)
    val merged = rows(s, path)
      .unionByName(profileOf(Tables.documents(s, dir).filter(col("source") === oldDelta)))
      .groupBy("source")
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        expr("hll_union_agg(content_hll, true)").as("content_hll"))
    commit(s, dir, path, newDelta, merged)
  }

  def isFresh(
      s: SparkSession,
      dir: String,
      path: String,
      deltaSource: String = GramIndex.DefaultDeltaSource): Boolean =
    Store.fresh(s, store, dir, path, Some(deltaSource)).isDefined

  private[graft] def rows(s: SparkSession, path: String): DataFrame =
    graft.sources.Tables.stableParquet(s, s"$path/rows")

  /** The profile read back with estimates decoded — what a monitor
    * queries between crawls (≤|sources| rows, no corpus scan). */
  def read(s: SparkSession, path: String): DataFrame =
    rows(s, path).select(
      col("source"),
      col("n_docs"),
      col("n_chars"),
      expr("hll_sketch_estimate(content_hll)").as("distinct_est"))

  private[graft] def defaultPath(s: SparkSession, dir: String): String =
    Store.path(s, dir, store)

  /** Driver-run twin: build-if-stale (first call pays one corpus scan,
    * later calls read ≤|sources| rows), then join the EXACT per-source
    * distinct-content count as the in-row accuracy anchor — the
    * agg_sketches discipline for engine-specific sketch output
    * (rows-only check; the anchor column is what the spec bounds).
    * The anchor scan is the driver-check cost, not the store's: a
    * production monitor reads [[read]] alone.
    *
    * A store that [[absorb]] has rotated to a different excluded source
    * is still CURRENT (stamp + version match) — this query adopts its
    * recorded exclusion for the anchor side instead of clobbering the
    * maintained artifact with a src19-excluding rebuild; only a
    * stamp/version mismatch triggers build. */
  def corpusProfile(s: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(s, dir)
    val recorded = Store.fresh(s, store, dir, path, None).map(_("binding"))
    val deltaSource = recorded.getOrElse { build(s, dir, path); GramIndex.DefaultDeltaSource }
    val exact = Tables
      .documents(s, dir)
      .filter(coalesce(col("source") =!= deltaSource, lit(true)))
      .groupBy("source")
      .agg(countDistinct(md5(col("text"))).as("distinct_exact"))
    // null-safe anchor join: the NULL-source bucket is a legitimate
    // profile row and must not lose its anchor to null-key join semantics
    val p = read(s, path).withColumnRenamed("source", "p_source")
    p.join(exact, p("p_source") <=> exact("source"), "left")
      .select(
        col("p_source").as("source"),
        col("n_docs"),
        col("n_chars"),
        col("distinct_exact"),
        col("distinct_est").cast("long").as("distinct_est"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_profile" -> (corpusProfile _))

  val oracles: Map[String, String] = Map.empty
}

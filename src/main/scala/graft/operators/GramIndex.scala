package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted rare-gram index of an established corpus — the artifact that
  * makes incremental admission ([[CorpusOps.dedupIncrementalIndexed]])
  * touch ONLY the index and the incoming batch, never the corpus text.
  *
  * The round-6 admission operator re-derived corpus grams on every call:
  * correct, but a full corpus scan per crawl. A training pipeline admits
  * batches far more often than the corpus changes, so the right
  * amortization is to persist, between crawls, exactly the two corpus
  * facts admission needs:
  *
  *   - `<path>/grams`:  one row per distinct corpus gram hash —
  *     `(gram BIGINT, df BIGINT, ds ARRAY<BIGINT>)` where `df` is the
  *     exact corpus document frequency and `ds` holds the packed
  *     (doc_id, n_grams) members ONLY while df ≤ 20 (built with the same
  *     [[graft.functions.CappedLongCollect]] the live pipeline uses —
  *     NULL past the cap). A gram hotter than the rarity cap can never
  *     produce candidate pairs (df only grows when a delta arrives), so
  *     the per-row payload is bounded at 21×8 bytes; cardinality is one
  *     row per distinct gram — dominated by df=1 singletons, a few
  *     percent of the corpus TEXT size in compressed parquet (sorted by
  *     gram via range partitioning), and the price of never re-scanning
  *     100 TB of text per crawl.
  *   - `<path>/hashes`: distinct `md5(text)` of the corpus — the exact
  *     stage's probe set, ~32 bytes per distinct document.
  *
  * Stamp, meta, staged commit and freshness follow [[Store]]: the stamp
  * binds the index to the whole documents table, so any table change
  * (including appending the next crawl) conservatively invalidates.
  * Consumers check [[isFresh]] and rebuild (or fail loudly).
  *
  * Packing matches [[CorpusOps.dedupIncremental]]'s delta-flag scheme:
  * `dn = doc_id·2²¹ + n_grams·2 + flag` with flag 0 for corpus members,
  * so admission can concatenate index members with delta members and
  * reuse the same decode. doc_id < 2⁴², n_grams < 2²⁰, asserted loudly
  * at build.
  */
object GramIndex {

  private[graft] val Pack = 1048576L // 2^20

  /** The driver dataset's incoming-batch source label — the default
    * `deltaSource` everywhere a build/freshness call takes one, and the
    * binding [[store]] declares for the census. */
  private[graft] val DefaultDeltaSource = "src19"

  /** df cap above which a gram cannot participate in rare-gram candidate
    * generation — must match the live pipeline's rarity band. */
  private[graft] val DfCap = 20

  /** On-disk format version, stored in meta and checked by [[isFresh]].
    * The stamp only tracks the DATA; this tracks the CODE: bump it
    * whenever gram hashing, the dn packing scheme, or the rarity cap
    * changes, or an index persisted by an older build would be served
    * false-fresh with incompatible content. */
  private[graft] val FormatVersion = s"v1:pack$Pack:df$DfCap"

  private[graft] val store = Store.Decl("gram_index", "graft_gram_index", "documents.parquet",
    Seq("grams", "hashes"), Some(DefaultDeltaSource))(_ => FormatVersion)

  /** Build (overwrite) the index at `indexPath` from every document in
    * `dir` that is NOT the incoming batch (`source != deltaSource`;
    * NULL source = established corpus, same convention as admission). */
  def build(
      s: SparkSession,
      dir: String,
      indexPath: String,
      deltaSource: String = DefaultDeltaSource): Unit = {
    val corpus = Tables
      .documents(s, dir)
      .filter(coalesce(col("source") =!= deltaSource, lit(true)))
    commit(s, dir, indexPath, deltaSource, gramRows(corpus), hashRows(corpus))
  }

  /** One (gram, df, ds) row per distinct gram of `docs`: one aggregation,
    * bounded state, map-side combined — the same no-straggler shape as
    * Dedup.rarePairCounts, writing (gram, df, ds) instead of expanding
    * pairs. Build and absorb both derive their rows here, so the batch
    * enters the index through the exact pipeline the corpus did. */
  private def gramRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), call_function("graft_grams", col("text")).as("garr"))
      .filter(col("garr").isNotNull)
      .filter(
        assert_true(
          size(col("garr")) < Pack && col("doc_id") >= 0 && col("doc_id") < (1L << 42),
          lit("GramIndex packing envelope exceeded: doc too large or doc_id out of range"))
          .isNull)
      .select(
        (col("doc_id") * Pack * 2 + size(col("garr")) * 2).as("dn"),
        explode(col("garr")).as("gram"))
      .groupBy("gram")
      .agg(
        count(lit(1)).as("df"),
        call_function("graft_collect_capped", col("dn"), lit(DfCap)).as("ds"))

  private def hashRows(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("h")).filter(col("h").isNotNull)

  private def commit(
      s: SparkSession,
      dir: String,
      indexPath: String,
      binding: String,
      grams: DataFrame,
      hashes: DataFrame): Unit =
    Store.commit(s, store, dir, indexPath, binding)(
      "grams" -> (grams.repartitionByRange(col("gram")).write.mode("overwrite").parquet(_)),
      "hashes" -> (hashes.distinct().write.mode("overwrite").parquet(_)))

  /** Fold the rows of `oldDelta` into the index — they are established
    * corpus once admitted — and re-bind the exclusion to `newDelta`: the
    * between-crawls maintenance step that closes the loop
    * (build → admit src19 → absorb → the next crawl arrives as src20).
    * Cost is one delta-side scan (filter-pushed) plus a LINEAR pass over
    * the index (full-outer gram merge + hash union) — the corpus text is
    * never re-scanned, which is the entire point of keeping the index.
    *
    * Post-condition (spec-pinned): the absorbed index is row-identical
    * to `build(..., newDelta)` from scratch. That equivalence requires
    * the two preconditions [[Store.absorbable]] enforces loudly: the
    * index is fresh for `oldDelta` (a stale base would merge into the
    * wrong corpus), and the table holds no `newDelta` rows yet (they
    * would be inside the old index but excluded from a rebuild — absorb
    * must run BEFORE the next batch lands). */
  def absorb(
      s: SparkSession,
      dir: String,
      indexPath: String,
      oldDelta: String = DefaultDeltaSource,
      newDelta: String = "src20"): Unit = {
    Store.absorbable(s, store, dir, indexPath, oldDelta, newDelta)
    val batch = Tables.documents(s, dir).filter(col("source") === oldDelta)
    val bg = gramRows(batch).select(col("gram"), col("df").as("df2"), col("ds").as("ds2"))
    val empty = expr("CAST(array() AS ARRAY<BIGINT>)")
    val mergedDf = coalesce(col("df"), lit(0L)) + coalesce(col("df2"), lit(0L))
    val merged = grams(s, indexPath)
      .join(bg, Seq("gram"), "full_outer")
      .select(
        col("gram"),
        mergedDf.as("dfm"),
        // a side over its own cap has a NULL list, but then the merged
        // df is over the cap too and the WHEN discards the concat
        when(
          mergedDf <= DfCap,
          array_sort(concat(coalesce(col("ds"), empty), coalesce(col("ds2"), empty))))
          .otherwise(lit(null))
          .as("dsm"))
      .select(col("gram"), col("dfm").as("df"), col("dsm").as("ds"))
    commit(s, dir, indexPath, newDelta, merged, hashes(s, indexPath).unionByName(hashRows(batch)))
  }

  /** True iff the index at `indexPath` exists and was built from the
    * CURRENT on-disk state of `dir`'s documents table with the same
    * excluded batch source. */
  def isFresh(
      s: SparkSession,
      dir: String,
      indexPath: String,
      deltaSource: String = DefaultDeltaSource): Boolean =
    Store.fresh(s, store, dir, indexPath, Some(deltaSource)).isDefined

  private[graft] def grams(s: SparkSession, indexPath: String): DataFrame =
    graft.sources.Tables.stableParquet(s, s"$indexPath/grams")

  private[graft] def hashes(s: SparkSession, indexPath: String): DataFrame =
    graft.sources.Tables.stableParquet(s, s"$indexPath/hashes")
}

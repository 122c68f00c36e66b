package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index of the documents table — the third
  * between-crawls store beside [[GramIndex]] (admission) and
  * [[CorpusProfile]] (monitoring): ad-hoc ranked retrieval without ever
  * re-scanning the corpus text.
  *
  * [[TextAnalysis.search]] is the scan-time oracle anchor: correct, but
  * one full corpus scan per query. A pipeline queries its corpus far more
  * often than the corpus changes, so the amortization is the classic
  * one — persist the two facts TF-IDF needs:
  *
  *   - `<path>/postings`: `(tok STRING, doc_id BIGINT, tf BIGINT)` — one
  *     ROW per (token, document) pair, never an array: a stop word's
  *     posting list is corpus-sized, and rows keep it partitioned instead
  *     of materializing an unbounded list in one aggregation buffer (the
  *     hot-key lesson from the dedup pipelines, applied at write time).
  *     Range-partitioned and sorted by (tok, doc_id), so a term-equality
  *     query prunes to its own files/row groups via parquet min/max
  *     stats — the query reads O(matching postings), not O(index).
  *   - `<path>/vocab`: `(tok, df)` — exact document frequencies, one row
  *     per type.
  *   - `<path>/doclen`: `(doc_id, dl)` — per-doc postings mass, BM25's
  *     length normalization.
  *   - meta extra `n`: the exact corpus doc count (the IDF numerator —
  *     counted once at build, a driver literal at query time).
  *
  * Stamp, meta, staged commit and freshness follow [[Store]];
  * [[searchIndexed]] rebuilds when stale (first driver call builds, later
  * calls — e.g. bench passes — find it fresh; Bench's per-query record
  * lists the store as built in pass 1 and hit after).
  */
object TextIndex {

  /** Bump when tokenization, the postings schema, the scoring contract,
    * or the meta layout changes — a stale-by-code index must never be
    * served false-fresh. v2 adds the recorded batch-exclusion meta line
    * ([[absorb]]'s binding; "" = none, the driver path); v3 (r17) adds
    * the `doclen` body (per-doc postings mass Σ tf) that BM25's length
    * normalization reads — a v2 store has no doclen and rebuilds. */
  private[graft] val FormatVersion = "v3:ws-tok:tfidf+bm25"

  private[graft] val store = Store.Decl("text_index", "graft_text_index", "documents.parquet",
    Seq("postings", "vocab", "doclen"), Some(""))(_ => FormatVersion)

  /** Build (overwrite) the index at `indexPath` from `dir`'s documents.
    * `excludeSource`: the incoming-batch exclusion ([[GramIndex.build]]'s
    * deltaSource convention — NULL source = established corpus, so only
    * rows labeled exactly `excludeSource` are left out), recorded in
    * meta so [[absorb]] can later fold exactly that batch in. The driver
    * path ([[searchIndexed]]) builds with None: the whole table is the
    * search corpus. */
  def build(
      s: SparkSession,
      dir: String,
      indexPath: String,
      excludeSource: Option[String] = None): Unit = {
    val docs = excludeSource.foldLeft(Tables.documents(s, dir)) { (df, src) =>
      df.filter(coalesce(col("source") =!= src, lit(true)))
    }
    commit(s, dir, indexPath, excludeSource.getOrElse(""), docs.count(), postingsOf(docs))
  }

  /** One tokenize/count definition for build and absorb — the fit/apply
    * rule: the delta batch must enter the index through the exact
    * pipeline the corpus did. */
  private def postingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok", "doc_id")
      .agg(count(lit(1)).as("tf"))

  /** Commit the three bodies derived from `posts`. vocab and doclen
    * (per-doc token mass Σ tf — BM25's dl, derived from the postings so
    * index and scan-time length definitions cannot fork) are linear
    * passes over the postings, so an absorb's are rebuild-identical by
    * the sum-merge argument. */
  private def commit(
      s: SparkSession,
      dir: String,
      indexPath: String,
      binding: String,
      n: Long,
      posts: DataFrame): Unit =
    Store.commit(s, store, dir, indexPath, binding, Map("n" -> n.toString))(
      "postings" -> ((p: String) =>
        posts.repartitionByRange(col("tok")).sortWithinPartitions("tok", "doc_id")
          .write.mode("overwrite").parquet(p)),
      "vocab" -> ((p: String) =>
        posts.groupBy("tok").agg(count(lit(1)).as("df")).repartitionByRange(col("tok"))
          .write.mode("overwrite").parquet(p)),
      "doclen" -> ((p: String) =>
        posts.groupBy("doc_id").agg(sum(col("tf")).as("dl")).write.mode("overwrite").parquet(p)))

  /** Fold the admitted batch (`source = oldDelta`) into the index — one
    * delta scan (source-equality pushed to the parquet scan) + one
    * LINEAR merge over the postings (sum-merge on (tok, doc_id): tf
    * counts are additive over row sets, so the absorbed index is
    * row-identical to `build(..., excludeSource = Some(newDelta))` —
    * spec-pinned) — and re-bind the exclusion to `newDelta`. The corpus
    * text is never re-scanned; that is the point of keeping the index.
    * Preconditions: [[Store.absorbable]]'s. */
  def absorb(
      s: SparkSession,
      dir: String,
      indexPath: String,
      oldDelta: String = GramIndex.DefaultDeltaSource,
      newDelta: String = "src20"): Unit = {
    val meta = Store.absorbable(s, store, dir, indexPath, oldDelta, newDelta)
    val batch = Tables.documents(s, dir).filter(col("source") === oldDelta)
    val n = meta("n").toLong + batch.count()
    // persisted: the merge (delta tokenize + full postings read + sum
    // aggregate) has THREE write consumers — without the pin each write
    // re-runs the whole lineage, tripling the cost the "one linear
    // merge" contract advertises
    val merged = graft.sources.Tables.stableParquet(s, s"$indexPath/postings")
      .unionByName(postingsOf(batch))
      .groupBy("tok", "doc_id")
      .agg(sum(col("tf")).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try commit(s, dir, indexPath, newDelta, n, merged)
    finally merged.unpersist(blocking = false)
  }

  private def freshMeta(
      s: SparkSession,
      dir: String,
      indexPath: String,
      excludeSource: String = ""): Option[Long] =
    Store.fresh(s, store, dir, indexPath, Some(excludeSource)).map(_("n").toLong)

  /** The served index's doc count, building the index first when stale. */
  private def docCount(s: SparkSession, dir: String, indexPath: String): Long =
    freshMeta(s, dir, indexPath).getOrElse {
      build(s, dir, indexPath)
      freshMeta(s, dir, indexPath).getOrElse(
        throw new IllegalStateException(s"TextIndex at $indexPath vanished mid-query"))
    }

  def isFresh(
      s: SparkSession,
      dir: String,
      indexPath: String,
      excludeSource: String = ""): Boolean =
    freshMeta(s, dir, indexPath, excludeSource).isDefined

  /** [[TextAnalysis.search]] served from the persisted index — the
    * identical ranking contract (same terms, same fixed-order integer-tf
    * TF-IDF expression, same top-20 cut, same DuckDB oracle), with ZERO
    * corpus scans when the index is fresh: the plan touches only the
    * three terms' postings rows (tok-equality pushed to the pruned
    * parquet scan — spec-pinned) and a ≤3-row vocabulary fetch for the
    * df literals. Exactness: n and df are the same exact integers the
    * scan-time operator aggregates, both engines fold the same
    * constants, and the per-document score expression is structurally
    * identical — so the indexed path is hash-equal to the oracle, not
    * just approximately right. */
  def searchIndexed(s: SparkSession, dir: String, indexPath: String): DataFrame = {
    val n = docCount(s, dir, indexPath)
    val terms = Seq("spark", "join", "stream")
    val dfMap = graft.sources.Tables.stableParquet(s, s"$indexPath/vocab")
      .filter(col("tok").isin(terms: _*))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val posts = graft.sources.Tables.stableParquet(s, s"$indexPath/postings")
      .filter(col("tok").isin(terms: _*))
    val pivots = terms.map(t =>
      coalesce(max(when(col("tok") === t, col("tf"))), lit(0L)).as(s"tf_$t"))
    val d = posts.groupBy("doc_id").agg(pivots.head, pivots.tail: _*)
    // same fixed term order and same df>0 guard as the scan-time operator
    val score: Column = terms
      .map { t =>
        val df = dfMap.getOrElse(t, 0L)
        if (df > 0) col(s"tf_$t") * log(lit(n.toDouble) / lit(df.toDouble))
        else lit(0.0)
      }
      .reduce(_ + _)
    d.select(
        col("doc_id"),
        col("tf_spark"),
        col("tf_join"),
        col("tf_stream"),
        score.as("sc"))
      .filter(col("sc") > 0)
      .orderBy(col("sc").desc, col("doc_id"))
      .limit(20)
      .select(
        col("doc_id"),
        col("tf_spark"),
        col("tf_join"),
        col("tf_stream"),
        round(col("sc"), 4).as("score"))
  }

  /** [[TextAnalysis.searchBm25]] served from the persisted index — the
    * identical BM25 contract (same terms, the SAME shared
    * [[TextAnalysis.bm25Term]] expression, same top-20 cut) with ZERO
    * corpus scans when fresh: tf from the three terms' pruned postings,
    * dl from the v3 `doclen` body (one doc_id equi-join against the
    * bounded matched set), df from the ≤3-row vocab fetch, N from meta,
    * L from ONE 1-row aggregate over doclen (O(docs) slim rows, never
    * the text). Row parity with the scan-time operator is spec-pinned —
    * dl is postings mass in both derivations by construction. */
  def searchBm25Indexed(s: SparkSession, dir: String, indexPath: String): DataFrame = {
    val n = docCount(s, dir, indexPath)
    val terms = TextAnalysis.SearchTerms
    val dfMap = graft.sources.Tables.stableParquet(s, s"$indexPath/vocab")
      .filter(col("tok").isin(terms: _*))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val posts = graft.sources.Tables.stableParquet(s, s"$indexPath/postings")
      .filter(col("tok").isin(terms: _*))
    val doclen = graft.sources.Tables.stableParquet(s, s"$indexPath/doclen")
    val pivots = terms.map(t =>
      coalesce(max(when(col("tok") === t, col("tf"))), lit(0L)).as(s"tf_$t"))
    val d = posts.groupBy("doc_id").agg(pivots.head, pivots.tail: _*)
      .join(doclen, "doc_id")
      .crossJoin(broadcast(doclen.agg(sum(col("dl")).as("l"))))
    val score = terms
      .map(t =>
        TextAnalysis.bm25Term(
          col(s"tf_$t"), lit(dfMap.getOrElse(t, 0L)), lit(n), col("dl"), col("l")))
      .reduce(_ + _)
    d.select(
        (col("doc_id") +: terms.map(t => col(s"tf_$t"))) :+ col("dl") :+ score.as("sc"): _*)
      .filter(col("sc") > 0)
      .orderBy(col("sc").desc, col("doc_id"))
      .limit(20)
      .select(
        (col("doc_id") +: terms.map(t => col(s"tf_$t"))) :+ col("dl") :+
          round(col("sc"), 4).as("score"): _*)
  }

  private[graft] def defaultPath(s: SparkSession, dir: String): String =
    Store.path(s, dir, store)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_search_idx" -> ((s, d) => searchIndexed(s, d, defaultPath(s, d))),
    // r17 review: the BM25 twin runs under the per-round driver gate
    // like its tf-idf sibling — an index/scan divergence (e.g. a doclen
    // absorb bug) surfaces in CORRECTNESS, not only in one spec
    "text_search_bm25_idx" -> ((s, d) => searchBm25Indexed(s, d, defaultPath(s, d))))

  /** Identical contract → identical oracle ([[GramIndex]]'s
    * dedup_incremental_idx convention). */
  val oracles: Map[String, String] = Map(
    "text_search_idx" -> TextAnalysis.searchSql,
    "text_search_bm25_idx" -> TextAnalysis.searchBm25Sql)
}

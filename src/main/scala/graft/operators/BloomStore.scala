package graft.operators

import graft.sources.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted Bloom membership filter of an established corpus — the
  * between-crawls artifact behind [[CorpusOps.dedupIncrementalBloom]]'s
  * warm path: the admission gate probes these bits instead of paying a
  * corpus scan per crawl to rebuild them.
  *
  * Layout under `path` (any Hadoop filesystem; stamp, meta, staged
  * commit and freshness follow [[Store]]):
  *   - `filter.bloom` — the `BloomFilter.writeTo` wire bytes over
  *     `xxhash64(text)` of every established (non-batch) document.
  *   - meta extras `expected` and `numBits` — the SIZING PAIR the filter
  *     was created with.
  *
  * The sizing pair is meta, not trivia: Bloom merge compatibility
  * requires identical bit count AND hash count, and the hash count is
  * derived from (expectedItems, numBits) at create time — [[absorb]]
  * must build the batch-side filter with the ORIGINAL pair or
  * `mergeInPlace` rejects it. Capacity drift is the store's inherent
  * staleness mode: as absorbs push the true cardinality past
  * `expectedItems`, the realized fpp degrades above nominal (never the
  * false-NEGATIVE rate — exactness is safe, only verify cost grows).
  * [[saturation]] exposes estimated-cardinality / expectedItems so a
  * maintenance job can rebuild with bigger sizing when it crosses ~1.
  *
  * Absorb = set union = bit-OR: a Bloom filter over keys A ∪ B is
  * BIT-IDENTICAL to (filter over A) merged with (filter over B) under
  * the same sizing, so the absorbed store is byte-equal to a from-scratch
  * rebuild — spec-pinned, the strongest parity any of the stores offers.
  * Cost is one batch-side scan (filter-pushed) + an O(bits) OR; the
  * corpus text is never re-read.
  */
object BloomStore {

  private[graft] val Fpp = 0.03

  /** Code-version token: bump when the key derivation (xxhash64 of raw
    * text) or the wire format changes. */
  private[graft] val FormatVersion = "v1:xxhash64:sketch"

  private[graft] val store = Store.Decl("bloom_store", "graft_bloom_store", "documents.parquet",
    Seq("filter.bloom"), Some(GramIndex.DefaultDeltaSource))(_ => FormatVersion)

  /** Build (overwrite) the filter at `path` from every document in `dir`
    * that is NOT the incoming batch (NULL source = established corpus,
    * the admission convention). Sizing: expectedItems = parquet row
    * count of the WHOLE table (metadata-only job) — an upper bound of
    * the corpus subset, over-sizing bits and undershooting fpp, the
    * safe direction. */
  def build(
      s: SparkSession,
      dir: String,
      path: String,
      deltaSource: String = GramIndex.DefaultDeltaSource): Unit = {
    val docs = Tables.documents(s, dir)
    val expected = math.max(docs.count(), 1L)
    val numBits = BloomFilter.optimalNumOfBits(expected, Fpp)
    val bf = filterOf(docs.filter(!(col("source") <=> lit(deltaSource))), expected, numBits)
    commit(s, dir, path, deltaSource, bf, expected, numBits)
  }

  /** Fold the admitted `oldDelta` batch into the filter and re-bind the
    * exclusion to `newDelta` — one batch scan + one bit-OR, never a
    * corpus scan. Preconditions: [[Store.absorbable]]'s. Post-condition
    * (spec-pinned): byte-identical to `build(..., newDelta)` from
    * scratch. */
  def absorb(
      s: SparkSession,
      dir: String,
      path: String,
      oldDelta: String = GramIndex.DefaultDeltaSource,
      newDelta: String = "src20"): Unit = {
    val meta = Store.absorbable(s, store, dir, path, oldDelta, newDelta)
    val (expected, numBits) = (meta("expected").toLong, meta("numBits").toLong)
    val base = readFilter(s, path)
    // ORIGINAL sizing pair → mergeable
    base.mergeInPlace(filterOf(
      Tables.documents(s, dir).filter(col("source") === oldDelta), expected, numBits))
    commit(s, dir, path, newDelta, base, expected, numBits)
  }

  /** True iff the store exists and matches the CURRENT on-disk corpus
    * state, batch binding, and code version. */
  def isFresh(
      s: SparkSession,
      dir: String,
      path: String,
      deltaSource: String = GramIndex.DefaultDeltaSource): Boolean =
    Store.fresh(s, store, dir, path, Some(deltaSource)).isDefined

  /** Estimated-cardinality / expectedItems — the store's capacity gauge:
    * past ~1.0 the realized fpp exceeds nominal and a re-sized rebuild
    * is due (exactness is unaffected either way). */
  def saturation(s: SparkSession, path: String): Double = {
    val expected = Store.readMeta(s, path).get("expected").toLong
    readFilter(s, path).cardinality().toDouble / expected
  }

  private def filterOf(docs: DataFrame, expected: Long, numBits: Long): BloomFilter =
    docs
      .filter(col("text").isNotNull)
      .select(xxhash64(col("text")).as("k"))
      .stat
      .bloomFilter("k", expected, numBits)

  /** The stored filter's wire bytes (the literal [[CorpusOps
    * .dedupIncrementalBloom]] folds into its probe expression). */
  private[graft] def readFilterBytes(s: SparkSession, path: String): Array[Byte] = {
    val p = new Path(s"$path/filter.bloom")
    val in = Store.fs(s, p).open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in)
    finally in.close()
  }

  private def readFilter(s: SparkSession, path: String): BloomFilter =
    BloomFilter.readFrom(readFilterBytes(s, path))

  private def commit(
      s: SparkSession,
      dir: String,
      path: String,
      binding: String,
      bf: BloomFilter,
      expected: Long,
      numBits: Long): Unit =
    Store.commit(s, store, dir, path, binding,
      Map("expected" -> expected.toString, "numBits" -> numBits.toString))(
      "filter.bloom" -> { (staged: String) =>
        val p = new Path(staged)
        val out = Store.fs(s, p).create(p, true)
        try bf.writeTo(out)
        finally out.close()
      })
}

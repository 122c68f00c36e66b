package graft

import graft.functions.{CappedLongCollect, CharGrams, DeflateLen, GramHash64, LongArrayDot, LongVecMin, LongVecSum, LshBuckets, MinHash64, PqAdcTable, PqArgMin, RollGrams64, SimHash64, Winnow64}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension wiring for graft's native Catalyst expressions.
  *
  * Activated with `spark.sql.extensions=graft.GraftExtensions` (set by
  * [[GraftSession.builder]]), the public, cluster-safe way to ship custom
  * expressions: every executor resolves the function from the session
  * config, no registry hacking.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Loud arity gate for the SQL front door: a call with the wrong
    * argument count surfaces as an analysis-time error naming the
    * expected signature, not an IndexOutOfBoundsException escaping the
    * builder lambda. */
  private def arity(children: Seq[Expression], n: Int, sig: String): Seq[Expression] = {
    if (children.length != n)
      throw new IllegalArgumentException(
        s"$sig expects $n argument(s), got ${children.length}")
    children
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (
        FunctionIdentifier("graft_dot"),
        new ExpressionInfo(
          classOf[LongArrayDot].getName,
          null,
          "graft_dot",
          "graft_dot(a, b) - exact dot product of two BIGINT arrays",
          ""),
        (children: Seq[Expression]) => { val c = arity(children, 2, "graft_dot(a, b)"); LongArrayDot(c.head, c(1)) }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_pq_argmin"),
        new ExpressionInfo(
          classOf[PqArgMin].getName,
          null,
          "graft_pq_argmin",
          "graft_pq_argmin(qv, nq, sub_id, cb) - nearest PQ codeword (d, cid) of a " +
            "subspace slice against a literal flat codebook",
          ""),
        (children: Seq[Expression]) => {
          val c = arity(children, 4, "graft_pq_argmin(qv, nq, sub_id, cb)")
          PqArgMin(c.head, c(1), c(2), c(3))
        }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_pq_adc"),
        new ExpressionInfo(
          classOf[PqAdcTable].getName,
          null,
          "graft_pq_adc",
          "graft_pq_adc(rqv, k, cb) - full 8*k-entry ADC distance table of a residual " +
            "query vector against a literal flat codebook, indexed by sub_id*k + cid",
          ""),
        (children: Seq[Expression]) => {
          val c = arity(children, 3, "graft_pq_adc(rqv, k, cb)")
          PqAdcTable(c.head, c(1), c(2))
        }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_simhash"),
        new ExpressionInfo(
          classOf[SimHash64].getName,
          null,
          "graft_simhash",
          "graft_simhash(text) - 64-bit simhash of whitespace-tokenized text",
          ""),
        (children: Seq[Expression]) => SimHash64(arity(children, 1, "graft_simhash(text)").head)))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_minhash"),
        new ExpressionInfo(
          classOf[MinHash64].getName,
          null,
          "graft_minhash",
          "graft_minhash(text) - 64-perm MinHash signature over word-3-gram shingles",
          ""),
        (children: Seq[Expression]) => MinHash64(arity(children, 1, "graft_minhash(text)").head)))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_grams"),
        new ExpressionInfo(
          classOf[GramHash64].getName,
          null,
          "graft_grams",
          "graft_grams(text) - distinct word-3-gram shingle hashes",
          ""),
        (children: Seq[Expression]) => GramHash64(arity(children, 1, "graft_grams(text)").head)))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_grams_roll"),
        new ExpressionInfo(
          classOf[RollGrams64].getName,
          null,
          "graft_grams_roll",
          "graft_grams_roll(text) - word-3-gram shingle hashes in document order",
          ""),
        (children: Seq[Expression]) => RollGrams64(arity(children, 1, "graft_grams_roll(text)").head)))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_winnow"),
        new ExpressionInfo(
          classOf[Winnow64].getName,
          null,
          "graft_winnow",
          "graft_winnow(text) - winnowing fingerprint (distinct 8-gram-window minima)",
          ""),
        (children: Seq[Expression]) => Winnow64(arity(children, 1, "graft_winnow(text)").head)))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_lsh_buckets"),
        new ExpressionInfo(
          classOf[LshBuckets].getName,
          null,
          "graft_lsh_buckets",
          "graft_lsh_buckets(qv) - 6 random-hyperplane LSH table buckets",
          ""),
        (children: Seq[Expression]) => LshBuckets(arity(children, 1, "graft_lsh_buckets(sig)").head)))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_lsh_probes"),
        new ExpressionInfo(
          classOf[graft.functions.LshProbes].getName,
          null,
          "graft_lsh_probes",
          "graft_lsh_probes(qv) - multi-probe LSH bucket sequence (3 per table: own + 2 margin flips)",
          ""),
        (children: Seq[Expression]) =>
          graft.functions.LshProbes(arity(children, 1, "graft_lsh_probes(qv)").head)))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_char_trigram_buckets"),
        new ExpressionInfo(
          classOf[graft.functions.CharTrigramBuckets].getName,
          null,
          "graft_char_trigram_buckets",
          "graft_char_trigram_buckets(text) - per-doc md5-bucketed char-trigram counts, packed (bucket<<40)|occ",
          ""),
        (children: Seq[Expression]) =>
          graft.functions.CharTrigramBuckets(
            arity(children, 1, "graft_char_trigram_buckets(text)").head)))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_vec_sum"),
        new ExpressionInfo(
          classOf[LongVecSum].getName,
          null,
          "graft_vec_sum",
          "graft_vec_sum(arr) - elementwise sum aggregate of BIGINT arrays",
          ""),
        (children: Seq[Expression]) => LongVecSum(arity(children, 1, "graft_vec_sum(v)").head).toAggregateExpression()))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_vec_min"),
        new ExpressionInfo(
          classOf[LongVecMin].getName,
          null,
          "graft_vec_min",
          "graft_vec_min(arr) - elementwise min aggregate of BIGINT arrays",
          ""),
        (children: Seq[Expression]) => LongVecMin(arity(children, 1, "graft_vec_min(v)").head).toAggregateExpression()))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_bpe_ids"),
        new ExpressionInfo(
          classOf[graft.functions.BpeIds].getName,
          null,
          "graft_bpe_ids",
          "graft_bpe_ids(text, lefts, rights, ranks) - BPE token ids with the literal merge table",
          ""),
        (children: Seq[Expression]) => {
          val c = arity(children, 4, "graft_bpe_ids(text, lefts, rights, ranks)")
          graft.functions.BpeIds(c.head, c(1), c(2), c(3))
        }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_unigram_ids"),
        new ExpressionInfo(
          classOf[graft.functions.UnigramIds].getName,
          null,
          "graft_unigram_ids",
          "graft_unigram_ids(text, pieces, costs) - unigram-LM Viterbi token ids with the literal vocabulary",
          ""),
        (children: Seq[Expression]) => {
          val c = arity(children, 3, "graft_unigram_ids(text, pieces, costs)")
          graft.functions.UnigramIds(c.head, c(1), c(2))
        }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_deflate_len"),
        new ExpressionInfo(
          classOf[DeflateLen].getName,
          null,
          "graft_deflate_len",
          "graft_deflate_len(text) - raw-DEFLATE compressed length (compressibility signal)",
          ""),
        (children: Seq[Expression]) => DeflateLen(arity(children, 1, "graft_deflate_len(text)").head)))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_char_grams"),
        new ExpressionInfo(
          classOf[CharGrams].getName,
          null,
          "graft_char_grams",
          "graft_char_grams(text, L) - distinct character-L-grams (span-dedup candidates)",
          ""),
        (children: Seq[Expression]) => { val c = arity(children, 2, "graft_char_grams(text, L)"); CharGrams(c.head, c(1)) }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_char_grams_hash"),
        new ExpressionInfo(
          classOf[graft.functions.CharGramsHash].getName,
          null,
          "graft_char_grams_hash",
          "graft_char_grams_hash(text, L, stride) - distinct char-L-gram hashes at a stride",
          ""),
        (children: Seq[Expression]) => {
          val c = arity(children, 3, "graft_char_grams_hash(text, L, stride)")
          graft.functions.CharGramsHash(c.head, c(1), c(2))
        }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_bloom_contains"),
        new ExpressionInfo(
          classOf[graft.functions.BloomContains].getName,
          null,
          "graft_bloom_contains",
          "graft_bloom_contains(filter, key) - Bloom-filter membership probe (no false negatives)",
          ""),
        (children: Seq[Expression]) => {
          val c = arity(children, 2, "graft_bloom_contains(filter, key)")
          graft.functions.BloomContains(c.head, c(1))
        }))
    ext.injectFunction(
      (
        FunctionIdentifier("graft_collect_capped"),
        new ExpressionInfo(
          classOf[CappedLongCollect].getName,
          null,
          "graft_collect_capped",
          "graft_collect_capped(x, cap) - sorted BIGINT collect, NULL past cap elements",
          ""),
        (children: Seq[Expression]) => {
          val c = arity(children, 2, "graft_collect_capped(x, cap)")
          CappedLongCollect(c.head, c(1)).toAggregateExpression()
        }))
  }
}

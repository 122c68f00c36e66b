package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Corpus-lifecycle operators for an LLM training-data pipeline: the jobs
  * that run BETWEEN crawls — deterministic dataset splitting, benchmark
  * decontamination, and incremental dedup of a new batch against an
  * established corpus. All three are oracle-exact (portable SQL twins).
  *
  * The reference engine (main.py) has no corpus lifecycle; these extend
  * the dedup/text surface the same way [[Dedup]] and [[TextAnalysis]] do,
  * reusing the word-3-gram machinery ([[graft.functions.GramHash64]]) so
  * "near-duplicate" means the same thing in every operator.
  */
object CorpusOps {

  /** Deterministic content-hash train/val/test split (80/10/10): bucket =
    * first 3 hex chars of md5(text) (4096 buckets; hex is lexicographic,
    * so string range-compare == numeric compare), train < 0xccd ≈ 80.0%,
    * val < 0xe66 ≈ 90.0%, test = rest.
    *
    * Hashing CONTENT (not doc_id) is the property that matters in a
    * training pipeline: the same document always lands in the same split
    * across crawls, re-ingestions and id reassignments, so a re-crawled
    * page can never migrate from test into train and leak. NULL texts
    * land in `test` (md5(NULL) is NULL, no WHEN matches); the empty
    * string hashes to 'd41…' which falls in `val` — neither ever lands
    * silently in train.
    *
    * Scale shape: one narrow codegen'd map over the scan, zero shuffles
    * besides the output sort (drop the orderBy and write
    * partitionBy("split") at 100 TB — the assignment itself never
    * shuffles). */
  /** The content-hash split label itself, exposed so composing operators
    * ([[Training.packIds]]) can stamp the SAME train/val/test assignment
    * inline in their own scan instead of re-joining [[dataSplit]]'s
    * output — one label contract, structurally shared. */
  private[operators] def splitLabel(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val b = substring(md5(text), 1, 3)
    when(b < SplitTrainHi, "train").when(b < SplitValHi, "val").otherwise("test")
  }

  /** Single source of truth for the split thresholds — the Scala
    * [[splitLabel]] and every SQL twin ([[dataSplitSql]],
    * [[curatePolicyCtesSql]], TextAnalysis.qualityHoldoutSql) read these
    * two constants, so a ratio retune can never de-synchronize the
    * engine's split from an oracle. */
  private[operators] val SplitTrainHi = "ccd"
  private[operators] val SplitValHi = "e66"

  /** The split CASE as a SQL expression over a `text` column in scope —
    * interpolate wherever an oracle needs the split label. */
  private[operators] val splitCaseSql: String =
    s"""CASE WHEN substr(md5(text), 1, 3) < '$SplitTrainHi' THEN 'train'
                     WHEN substr(md5(text), 1, 3) < '$SplitValHi' THEN 'val'
                     ELSE 'test' END"""

  def dataSplit(s: SparkSession, dir: String): DataFrame = {
    Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        col("lang"),
        col("n_chars"),
        splitLabel(col("text")).as("split"))
  }

  val dataSplitSql: String =
    s"""SELECT doc_id, lang, n_chars,
              $splitCaseSql AS split
       FROM documents
       ORDER BY doc_id"""

  /** Benchmark decontamination: which training documents contain a held-out
    * eval document? For every (train, eval) pair sharing word-3-grams,
    * containment = |grams(train) ∩ grams(eval)| / |grams(eval)| — the
    * standard n-gram-overlap decontamination check — reported at ≥ 0.5,
    * with the evidence a decontamination report actually needs per pair:
    * `n_matched` / `n_eval` (the raw overlap behind the ratio) and
    * `first_pos` / `last_pos` — the 1-based WORD positions in the
    * training document of the earliest and latest matched shingle, i.e.
    * the span to excise or inspect. Positions come from the positional
    * gram variant ([[graft.functions.RollGrams64]], `graft_grams_roll` —
    * array index = word position) on the training side only; the eval
    * side stays a distinct-gram broadcast.
    * Eval set = `evalSource` (default src0), training corpus = the rest.
    *
    * Scale shape — the part that matters at 100 TB: the eval side is an
    * eval BENCHMARK, bounded by construction (MBs, not TBs), so its
    * exploded gram set is broadcast and the corpus is never shuffled at
    * all. One scan of the training side, a broadcast hash join per gram,
    * then two partial-aggregated groupBys (per-matched-gram span, then
    * per-pair rollup) whose key spaces are bounded by
    * |train docs touched| × |eval docs| × |eval grams| — no corpus-sized
    * exchange, no hot-gram hazard (a stop-gram fans out to at most
    * |eval docs| rows per occurrence, absorbed map-side). Grams are
    * 64-bit hashes
    * ([[graft.functions.GramHash64]]) — an 8-byte join key, collision
    * P ≈ 1e-11 (same trade as [[Dedup.ngramJaccard]]). */
  def contamination(
      s: SparkSession,
      dir: String,
      evalSource: String = "src0"): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
    val ev = docs
      .filter(col("source") === evalSource)
      .select(col("doc_id").as("eval_doc"), call_function("graft_grams", col("text")).as("garr"))
      .filter(col("garr").isNotNull)
      .select(col("eval_doc"), size(col("garr")).as("n_eval"), explode(col("garr")).as("gram"))
    // null-safe: a NULL-source doc has unknown provenance and must be
    // CHECKED as training data (same convention as [[dedupIncremental]]:
    // NULL source = established corpus), not silently skipped — plain
    // =!= is NULL for NULLs and the filter would drop them. Positional
    // (rolling) grams on this side: array index = 0-based word position.
    val tr = docs
      .filter(coalesce(col("source") =!= evalSource, lit(true)))
      .select(
        col("doc_id").as("train_doc"),
        call_function("graft_grams_roll", col("text")).as("rarr"))
      .filter(col("rarr").isNotNull)
      .select(col("train_doc"), posexplode(col("rarr")).as(Seq("pos", "gram")))
    // two explicit aggregations instead of countDistinct: the first
    // collapses repeated occurrences of a matched gram (keeping its
    // position extremes), the second counts distinct matched grams —
    // both exchanges carry only MATCHED (train, eval) rows, bounded by
    // the broadcast eval side; the corpus is still never shuffled
    tr.join(broadcast(ev), "gram")
      .groupBy("train_doc", "eval_doc", "n_eval", "gram")
      .agg(min(col("pos")).as("mp"), max(col("pos")).as("xp"))
      .groupBy("train_doc", "eval_doc", "n_eval")
      .agg(
        count(lit(1)).as("n_matched"),
        (min(col("mp")) + 1).cast("long").as("first_pos"),
        (max(col("xp")) + 1).cast("long").as("last_pos"))
      .withColumn("containment", col("n_matched") / col("n_eval").cast("double"))
      .filter(col("containment") >= 0.5)
      .select(
        col("train_doc"),
        col("eval_doc"),
        round(col("containment"), 4).as("containment"),
        col("n_matched"),
        col("n_eval").cast("long").as("n_eval"),
        col("first_pos"),
        col("last_pos"))
      .orderBy(col("containment").desc, col("train_doc"), col("eval_doc"))
  }

  /** Decontamination EXCISION — the action step after
    * [[contamination]]'s report: for every flagged training document,
    * cut the contaminated word span (all matched shingles, widened to
    * whole 3-grams: words `first_pos .. last_pos+2`) and return the
    * cleaned document's stats + content fingerprint. Report → excise is
    * the standard two-step decontamination pipeline; keeping them
    * separate means the report stays auditable and the cut replayable.
    *
    * Scale shape: the span frame is bounded by the report (tiny by
    * construction — it is a subset of eval-doc pairs), so it broadcasts
    * into one corpus scan; the cut itself is array slicing in a narrow
    * map. Words use the dedup pipeline's whitespace normalization, the
    * same positions [[graft.functions.RollGrams64]] indexed. */
  def contaminationExcise(
      s: SparkSession,
      dir: String,
      evalSource: String = "src0"): DataFrame = {
    val spans = contamination(s, dir, evalSource)
      .groupBy("train_doc")
      .agg(min(col("first_pos")).as("fp"), max(col("last_pos")).as("lp"))
    val arr = split(trim(regexp_replace(col("text"), " +", " ")), " ")
    Tables
      .documents(s, dir)
      .join(broadcast(spans), col("doc_id") === col("train_doc"))
      .select(col("doc_id"), arr.as("arr"), col("fp"), col("lp"))
      .select(
        col("doc_id"),
        size(col("arr")).cast("long").as("n_words"),
        (col("lp") + 2 - col("fp") + 1).as("n_removed"),
        md5(
          array_join(
            concat(
              slice(col("arr"), lit(1), (col("fp") - 1).cast("int")),
              slice(col("arr"), (col("lp") + 3).cast("int"), size(col("arr")))),
            " ")).as("clean_md5"))
      .orderBy("doc_id")
  }

  val contaminationExciseSql: String =
    // spans CTE = the contamination oracle's pair frame, rolled up per
    // train doc; COALESCE('') because DuckDB's array_to_string of an
    // empty list is NULL where Spark's array_join is ''
    """WITH w AS (
         SELECT doc_id, source, string_split(trim(regexp_replace(text, ' +', ' ', 'g')), ' ') AS arr
         FROM documents
         WHERE len(string_split(trim(regexp_replace(text, ' +', ' ', 'g')), ' ')) >= 3),
       pg AS (
         SELECT doc_id, source, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS gram, i AS pos
         FROM w, UNNEST(range(1, len(arr) - 1)) AS t(i)),
       ev AS (SELECT DISTINCT doc_id, gram FROM pg WHERE source = 'src0'),
       evn AS (SELECT doc_id, COUNT(*) AS n FROM ev GROUP BY 1),
       tr AS (SELECT doc_id, gram, pos FROM pg WHERE source IS DISTINCT FROM 'src0'),
       gi AS (
         SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc, tr.gram,
                MIN(pos) AS mp, MAX(pos) AS xp
         FROM tr JOIN ev ON tr.gram = ev.gram
         GROUP BY 1, 2, 3),
       inter AS (
         SELECT train_doc, eval_doc, COUNT(*) AS n_matched,
                MIN(mp) AS first_pos, MAX(xp) AS last_pos
         FROM gi GROUP BY 1, 2),
       hits AS (
         SELECT train_doc, first_pos, last_pos
         FROM inter JOIN evn ON evn.doc_id = eval_doc
         WHERE n_matched / CAST(evn.n AS DOUBLE) >= 0.5),
       spans AS (
         SELECT train_doc, MIN(first_pos) AS fp, MAX(last_pos) AS lp
         FROM hits GROUP BY 1),
       da AS (
         SELECT doc_id, string_split(trim(regexp_replace(text, ' +', ' ', 'g')), ' ') AS arr
         FROM documents)
       SELECT doc_id,
              CAST(len(arr) AS BIGINT) AS n_words,
              lp + 2 - fp + 1 AS n_removed,
              md5(COALESCE(array_to_string(
                list_concat(list_slice(arr, 1, CAST(fp - 1 AS INT)),
                            list_slice(arr, CAST(lp + 3 AS INT), len(arr))), ' '), ''))
                AS clean_md5
       FROM da JOIN spans ON doc_id = train_doc
       ORDER BY doc_id"""

  /** Boilerplate excision — the corpus-self-referential sibling of
    * [[contaminationExcise]]: word-3-grams appearing in ≥
    * `spark.graft.text.boilerplateDf` documents (default 5) are
    * boilerplate shingles (navigation chrome, footers, licence blocks —
    * the text every crawl re-serves); every word position covered by one
    * is cut and the cleaned text fingerprinted. Unlike the contamination
    * cut (one contiguous span from a bounded eval set) boilerplate
    * strikes in MANY disjoint spans, so the cut is per-position: covered
    * positions are collected per doc and removal is one
    * `array_except` over the position sequence — O(n_words) per doc via
    * hashing, never an O(n·spans) per-word membership scan.
    *
    * Scale shape: the census is a count-only groupBy on the 8-byte gram
    * key (map-side partials absorb any hot gram — no member lists, no
    * collect); the positional pass joins (doc, pos, gram) occurrence
    * rows against the census survivors on gram — output is linear in
    * hot-gram OCCURRENCES, AQE splits the skewed reducers (same argument
    * as [[TextAnalysis.lmScore]]'s vocabulary join); per-doc covered
    * positions are bounded by the document's own length. Three corpus
    * scans total (census, positional, cut — plan-pinned; the exploded
    * gram stream is corpus×grams-sized, so materializing it to merge
    * scans would cost more than the scans). Output rows = affected docs
    * only. The df threshold deliberately overlaps the dedup band — a
    * gram in 5+ docs is boilerplate HERE and a near-dup signal THERE;
    * different questions over the same census machinery. */
  def boilerplate(s: SparkSession, dir: String): DataFrame = {
    val minDf = s.conf.get("spark.graft.text.boilerplateDf", "5").toLong
    require(minDf > 0, s"boilerplateDf must be positive, got $minDf")
    val arr = split(trim(regexp_replace(col("text"), " +", " ")), " ")
    val base = Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        arr.as("arr"),
        call_function("graft_grams", col("text")).as("garr"),
        call_function("graft_grams_roll", col("text")).as("rarr"))
      .filter(col("garr").isNotNull && size(col("arr")) >= 3)
    val hot = base
      .select(explode(col("garr")).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("gram")
    val covered = base
      .select(col("doc_id"), posexplode(col("rarr")).as(Seq("p0", "gram")))
      .join(hot, "gram")
      .select(
        col("doc_id"),
        explode(array(col("p0") + 1, col("p0") + 2, col("p0") + 3)).as("p"))
      .groupBy("doc_id")
      .agg(collect_set(col("p")).as("cov"))
    base
      .select(col("doc_id"), col("arr"))
      .join(covered, "doc_id")
      .select(
        col("doc_id"),
        size(col("arr")).cast("long").as("n_words"),
        size(col("cov")).cast("long").as("n_removed"),
        md5(
          array_join(
            transform(
              array_except(sequence(lit(1), size(col("arr"))), col("cov")),
              p => element_at(col("arr"), p)),
            " ")).as("clean_md5"))
  }

  val boilerplateSql: String =
    s"""WITH ${Dedup.tokenizedDocsCteSql},
       g AS (
         SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS gram
         FROM w, UNNEST(range(1, len(arr) - 1)) AS t(i)),
       hot AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 5),
       pg AS (
         SELECT doc_id, i AS pos, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS gram
         FROM w, UNNEST(range(1, len(arr) - 1)) AS t(i)),
       cov AS (
         SELECT DISTINCT doc_id, pos + o AS p
         FROM pg JOIN hot USING (gram), UNNEST([0, 1, 2]) AS u(o)),
       covl AS (SELECT doc_id, LIST(p ORDER BY p) AS pl, COUNT(*) AS n_removed
                FROM cov GROUP BY 1)
       SELECT w.doc_id,
              CAST(len(arr) AS BIGINT) AS n_words,
              CAST(n_removed AS BIGINT) AS n_removed,
              md5(COALESCE(array_to_string(
                list_transform(
                  list_filter(range(1, len(arr) + 1), x -> NOT list_contains(pl, x)),
                  x -> arr[x]), ' '), '')) AS clean_md5
       FROM w JOIN covl USING (doc_id)
       ORDER BY doc_id"""

  /** Token-budget training shards: assign every document (doc_id order)
    * to shard `floor(exclusive_prefix_tokens / budget)` — the packing
    * step that turns a curated corpus into fixed-size training chunks
    * whose boundaries never split mid-document and never depend on
    * physical partitioning.
    *
    * The naive formulation is `SUM(tokens) OVER (ORDER BY doc_id)` — an
    * un-partitioned window that drags the ENTIRE table through one
    * task's sort (Spark even warns). This is the scalable two-phase
    * exact prefix sum instead:
    *   1. doc_id quantile boundaries are collected EAGERLY into
    *      literals (`approxQuantile`, same discipline as
    *      [[Scale.globalRank]]'s quantile mode: an eager literal makes
    *      every branch bucket rows identically — deriving buckets from
    *      `spark_partition_id` would be a correctness trap, since each
    *      plan branch re-runs the range partitioner's sampling);
    *   2. per-bucket token totals (one map-side-combined aggregation of
    *      ~`spark.sql.shuffle.partitions` rows) come back to the driver,
    *      which turns them into per-bucket exclusive offsets — literals
    *      again;
    *   3. one window per BUCKET (partitionBy __bkt, bounded by the
    *      quantile split, bucket count scales with the cluster) computes
    *      the local exclusive cumsum; offset + local = exact global
    *      prefix, integer end to end.
    * Budget: `spark.graft.corpus.shardTokenBudget` (default 50k tokens).
    * Token count = the whitespace formula shared with `text_stats`. */
  def corpusShard(s: SparkSession, dir: String): DataFrame = {
    val budget = s.conf.get("spark.graft.corpus.shardTokenBudget", "50000").toLong
    require(budget > 0, s"shardTokenBudget must be positive, got $budget")
    tokenPrefix(s, dir)
      .select(
        col("doc_id"),
        col("n_tokens"),
        expr(s"__ex DIV $budget").as("shard"))
  }

  /** The shared exact-global-prefix frame behind [[corpusShard]] and
    * [[corpusPack]]: every non-empty document with its whitespace token
    * count and `__ex` = the EXCLUSIVE doc_id-order prefix sum of tokens,
    * computed by the scalable two-phase scheme documented on
    * [[corpusShard]] (eager quantile bucket literals → per-bucket totals
    * to the driver → broadcast offset join + per-bucket windows). */
  private def tokenPrefix(s: SparkSession, dir: String): DataFrame = {
    val nTok = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1
    val t = Tables
      .documents(s, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), nTok.cast("long").as("n_tokens"))
    exclusivePrefix(s, t, "doc_id", "n_tokens")
  }

  /** Exact EXCLUSIVE prefix sum of `valueCol` in `orderCol` order,
    * optionally restarted per `partCols` group (a per-split prefix for
    * [[Training.packIds]]; `Nil` = one corpus-wide sequence) — the
    * scalable two-phase scheme documented on [[corpusShard]]: eager
    * quantile bucket bounds on `orderCol` → per-(group, bucket) totals
    * to the driver (≤ groups × buckets rows) → broadcast offset join +
    * per-(group, bucket) windows. Adds `__ex`; every other input column
    * is carried through untouched (so a payload array rides along to a
    * downstream packer). No un-partitioned window anywhere. */
  private[operators] def exclusivePrefix(
      s: SparkSession,
      t: DataFrame,
      orderCol: String,
      valueCol: String,
      partCols: Seq[String] = Nil): DataFrame = {
    val nb = math.max(s.conf.get("spark.sql.shuffle.partitions").toInt, 1)
    val bounds = t.stat
      .approxQuantile(orderCol, (1 until nb).map(_.toDouble / nb).toArray, 0.001)
      .distinct
    val bucket = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col(orderCol) > b, 1).otherwise(0)
    }
    val tb = t.withColumn("__bkt", bucket)
    val keyCols = partCols :+ "__bkt"
    // per-(group, bucket) totals → exclusive offsets, computed on the
    // driver over ≤ groups × nb rows and folded back in via a broadcast
    // join, not a when-chain: at cluster scale the bucket count tracks
    // shuffle.partitions (thousands) and a thousand-deep CASE is its own
    // codegen blowup
    val partials = tb
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col(valueCol)).as("__tot"))
      .collect()
    val offRows = partials
      .groupBy(r => partCols.map(r.getAs[Any]))
      .valuesIterator
      .flatMap { rs =>
        val sorted = rs.sortBy(_.getAs[Int]("__bkt"))
        val offs = sorted.scanLeft(0L)((acc, r) => acc + r.getAs[Long]("__tot")).init
        sorted.zip(offs).map { case (r, off) =>
          // Seq[Any] explicitly: Seq(int, long) would numerically WIDEN
          // the bucket id to Long and poison the IntegerType slot
          org.apache.spark.sql.Row.fromSeq(
            partCols.map(r.getAs[Any]) ++ Seq[Any](r.getAs[Int]("__bkt"), off))
        }
      }
      .toSeq
    val offSchema = org.apache.spark.sql.types.StructType(
      partCols.map(c => tb.schema(c)) ++ Seq(
        org.apache.spark.sql.types.StructField("__bkt", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__off", org.apache.spark.sql.types.LongType)))
    val offDf = s.createDataFrame(new java.util.ArrayList(offRows.asJava), offSchema)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    tb.join(broadcast(offDf), keyCols)
      .withColumn("__ex", col("__off") + coalesce(sum(col(valueCol)).over(w), lit(0L)))
      .drop("__bkt", "__off")
  }

  /** Fixed-length SEQUENCE PACKING — [[corpusShard]]'s context-window
    * sibling and the last step before tokens hit a trainer: concatenate
    * the corpus in doc_id order and cut it into training sequences of
    * exactly `spark.graft.corpus.packSeqLen` tokens (default 2048).
    * Unlike shards, sequences DO split documents: a doc starting at
    * global token offset `ex` occupies sequences `ex DIV L` through
    * `(ex + n_tokens − 1) DIV L`, entering the first at offset
    * `ex MOD L`. Each document reports that placement plus `tail_tokens`
    * — how many of its tokens land in its last sequence — so a reader
    * can materialize any sequence's contents from the docs that claim it
    * without re-deriving the global order.
    *
    * Everything is integer arithmetic on the exact prefix sum, so the
    * packing is bit-stable across engines, partitionings and re-runs —
    * the property that makes a training run reproducible. Scale shape =
    * [[tokenPrefix]]'s (no un-partitioned window anywhere) plus one
    * narrow map; output is one row per doc, never per (doc × sequence).
    */
  /** Training-sequence length knob, shared by [[corpusPack]] (placement
    * metadata) and [[Training.packRows]]/[[Training.packIds]] (the
    * materialized rows) — one L, one packing. */
  private[operators] def packSeqLen(s: SparkSession): Long = {
    val len = s.conf.get("spark.graft.corpus.packSeqLen", "2048").toLong
    require(len > 0, s"packSeqLen must be positive, got $len")
    len
  }

  def corpusPack(s: SparkSession, dir: String): DataFrame = {
    val len = packSeqLen(s)
    tokenPrefix(s, dir)
      .select(
        col("doc_id"),
        col("n_tokens"),
        expr(s"__ex DIV $len").as("seq_first"),
        expr(s"__ex % $len").as("start_off"),
        expr(s"(__ex + n_tokens - 1) DIV $len").as("seq_last"),
        expr(s"(__ex + n_tokens - 1) DIV $len - __ex DIV $len + 1").as("n_seqs"),
        expr(s"(__ex + n_tokens - 1) % $len + 1").as("tail_tokens"))
  }

  val corpusPackSql: String =
    """WITH t AS (
         SELECT doc_id,
                CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
         FROM documents
         WHERE LENGTH(TRIM(text)) > 0),
       c AS (
         SELECT doc_id, n_tokens,
                COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ex
         FROM t)
       SELECT doc_id, n_tokens,
              CAST(ex // 2048 AS BIGINT) AS seq_first,
              CAST(ex % 2048 AS BIGINT) AS start_off,
              CAST((ex + n_tokens - 1) // 2048 AS BIGINT) AS seq_last,
              CAST((ex + n_tokens - 1) // 2048 - ex // 2048 + 1 AS BIGINT) AS n_seqs,
              CAST((ex + n_tokens - 1) % 2048 + 1 AS BIGINT) AS tail_tokens
       FROM c
       ORDER BY doc_id"""

  val corpusShardSql: String =
    """WITH t AS (
         SELECT doc_id,
                CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
         FROM documents
         WHERE LENGTH(TRIM(text)) > 0),
       c AS (
         SELECT doc_id, n_tokens,
                COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ex
         FROM t)
       SELECT doc_id, n_tokens, CAST(ex // 50000 AS BIGINT) AS shard
       FROM c
       ORDER BY doc_id"""

  val contaminationSql: String =
    """WITH w AS (
         SELECT doc_id, source, string_split(trim(regexp_replace(text, ' +', ' ', 'g')), ' ') AS arr
         FROM documents
         WHERE len(string_split(trim(regexp_replace(text, ' +', ' ', 'g')), ' ')) >= 3),
       pg AS (
         SELECT doc_id, source, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS gram, i AS pos
         FROM w, UNNEST(range(1, len(arr) - 1)) AS t(i)),
       ev AS (SELECT DISTINCT doc_id, gram FROM pg WHERE source = 'src0'),
       evn AS (SELECT doc_id, COUNT(*) AS n FROM ev GROUP BY 1),
       tr AS (SELECT doc_id, gram, pos FROM pg WHERE source IS DISTINCT FROM 'src0'),
       gi AS (
         SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc, tr.gram,
                MIN(pos) AS mp, MAX(pos) AS xp
         FROM tr JOIN ev ON tr.gram = ev.gram
         GROUP BY 1, 2, 3),
       inter AS (
         SELECT train_doc, eval_doc, COUNT(*) AS n_matched,
                MIN(mp) AS first_pos, MAX(xp) AS last_pos
         FROM gi GROUP BY 1, 2),
       c AS (
         SELECT train_doc, eval_doc, n_matched, CAST(evn.n AS BIGINT) AS n_eval,
                first_pos, last_pos,
                n_matched / CAST(evn.n AS DOUBLE) AS containment
         FROM inter JOIN evn ON evn.doc_id = eval_doc)
       SELECT train_doc, eval_doc, ROUND(containment, 4) AS containment,
              n_matched, n_eval, first_pos, last_pos
       FROM c WHERE containment >= 0.5
       ORDER BY containment DESC, train_doc, eval_doc"""

  /** Incremental dedup: admit a new crawl batch (`deltaSource`, default
    * src19) against an ESTABLISHED corpus (every other source). A delta
    * document is dropped when it
    *   - exact-duplicates (md5 of text) any corpus document, or an
    *     earlier (lower doc_id) delta document; or
    *   - near-duplicates (word-3-gram Jaccard ≥ 0.5, the same relation as
    *     [[Dedup.corpusDedupNg]]) any corpus document — IN EITHER
    *     DIRECTION: the corpus always wins, even when the delta document
    *     has the lower doc_id (this is where incremental semantics differ
    *     from the batch materializer's keeper-by-lowest-id rule) — or a
    *     lower-id delta document.
    * Returns the surviving delta rows — the batch that is safe to append.
    *
    * Scale shape — why this is NOT "run batch dedup on corpus + delta":
    * candidate generation is delta-restricted. The delta's distinct gram
    * set semi-joins the corpus's exploded gram stream MAP-SIDE (broadcast),
    * so only gram occurrences that could possibly pair with the delta ever
    * reach the exchange — shuffle volume scales with the DELTA, not the
    * corpus. The broadcast is SIZE-GATED, not assumed: "a crawl batch is
    * small relative to the corpus" does not make it absolutely small
    * (0.1% of a 100 TB corpus is ~100 GB of text whose distinct gram
    * hashes run to tens of GB — no executor survives that broadcast), so
    * the builder first counts the delta's distinct grams with one
    * delta-only job (the delta scan is filter-pushed; the corpus is never
    * touched) and only hints broadcast when the count is at most
    * `spark.graft.corpus.deltaGramBroadcastMax` (default 2M grams ≈
    * tens of MB as a hash relation). Above the gate it falls back to a
    * plain shuffle semi-join — a linear, spill-safe exchange of the
    * exploded corpus grams, the honest cost of an oversized batch (or
    * sub-batch the admission, or use [[GramIndex]] and never touch the
    * corpus at all).
    * Gram df for the hot-gram guard is still counted over every surviving
    * row (all docs, delta-present grams only), so df ∈ [2, 20] means
    * exactly what it means in the full pipeline and the candidate pairs
    * that touch the delta are IDENTICAL to the full pipeline's — a shared
    * gram with a delta doc is delta-present by definition, so the
    * restriction loses nothing (the full-pipeline SQL oracle, filtered to
    * delta-touching pairs, hash-matches this plan's output). At 100 TB
    * the amortized path is [[dedupIncrementalIndexed]]: the same contract
    * served from the persisted [[GramIndex]], zero corpus scans per
    * crawl; this operator is the from-scratch shape (and what builds
    * confidence in the index path — both are driver-oracled against the
    * same SQL).
    *
    * Index reuse: when the run-scoped shared ngram PAIR frame is already
    * cached and fresh (another query in this run paid for it —
    * [[PipelineCache.peek]]), the near stage filters THAT instead of
    * re-deriving grams: the delta-touching pairs of the full pipeline
    * are exactly what the delta-restricted build produces (a shared gram
    * with a delta doc is delta-present by definition), so both paths are
    * hash-identical — spec-pinned by running the same fixture cold and
    * warm. On miss, nothing is built eagerly: the delta-restricted plan
    * below remains the standalone shape. */
  def dedupIncremental(
      s: SparkSession,
      dir: String,
      deltaSource: String = GramIndex.DefaultDeltaSource): DataFrame = {
    val docs = Tables.documents(s, dir)
    // null-safe: a NULL source is never the incoming batch — it is
    // established data, i.e. corpus. Without the coalesce a NULL flag
    // would poison the dn packing below and silently drop the doc from
    // candidate generation (diverging from the oracle, which builds its
    // gram CTEs with no source predicate at all).
    val isDelta = coalesce(col("source") === deltaSource, lit(false))
    // plain === in a filter already drops NULLs, and unlike the coalesce
    // form it pushes to the parquet scan — every delta-side scan below
    // reads only the batch's row groups
    val delta = docs.filter(col("source") === deltaSource)
    // exact stage: md5 against corpus (any), and earlier-delta (lower id)
    val hashes = docs.select(col("doc_id"), isDelta.as("d"), md5(col("text")).as("h"))
    val dh = hashes.filter(col("d")).select(col("doc_id"), col("h"))
    val ch = hashes.filter(!col("d")).select(col("h")).distinct()
    val exactVsCorpus = dh.join(ch, Seq("h"), "left_semi").select("doc_id")
    val exactVsDelta = earlierDeltaDups(dh)
    // near stage: reuse the shared pair index when warm, else the
    // delta-restricted build (see scaladoc) — identical output either way
    val nearPairs: DataFrame = Dedup.ngramPairsIfCached(s, dir) match {
      case Some(p) =>
        // the cold path packs a delta flag into the low bit and so
        // rejects delta doc_ids ≥ 2^42; assert the same envelope here so
        // an input cannot succeed warm and throw cold (the shared frame
        // itself enforces only ngramPairsPlan's looser 2^43 bound)
        val dIds = delta
          .select(col("doc_id"))
          .filter(
            assert_true(
              col("doc_id") >= 0 && col("doc_id") < (1L << 42),
              lit("dedupIncremental packing envelope exceeded")).isNull)
        // no broadcast hints: both sides here are small-ish (bounded
        // candidate pairs vs delta ids) but neither is small by FIAT —
        // AQE picks broadcast from MEASURED sizes and degrades to a
        // shuffle when a huge batch would make the hint the same
        // executor-killer the gram gate exists to prevent
        p.filter(col("jaccard") >= 0.5)
          .join(
            dIds.select(col("doc_id").as("doc_a"), lit(1L).as("da_")),
            Seq("doc_a"),
            "left")
          .join(
            dIds.select(col("doc_id").as("doc_b"), lit(1L).as("db_")),
            Seq("doc_b"),
            "left")
          .select(
            col("doc_a"),
            col("doc_b"),
            coalesce(col("da_"), lit(0L)).as("da"),
            coalesce(col("db_"), lit(0L)).as("db"))
      case None => deltaRestrictedNearPairs(s, docs, delta, isDelta)
    }
    survivors(delta, exactVsCorpus, exactVsDelta, nearPairs)
  }

  /** "Earlier delta wins" via groupBy-min, not a self-join probe: a
    * duplicate-hash group of size g costs one min() aggregate, O(g),
    * where the semi-join shape this replaced probed O(g) per row —
    * O(g²) per group when a delta carries huge identical-boilerplate
    * runs. doc dropped ⇔ its doc_id exceeds the group's min. */
  private def earlierDeltaDups(dh: DataFrame): DataFrame =
    dh.join(dh.groupBy("h").agg(min(col("doc_id")).as("first_id")), "h")
      .filter(col("doc_id") > col("first_id"))
      .select("doc_id")

  /** Shared admission tail: delta doc_b with ANY near partner (corpus
    * either way, or earlier delta); delta doc_a whose partner is corpus
    * (the corpus-wins direction); plus both exact stages — everything
    * else survives. */
  private def survivors(
      delta: DataFrame,
      exactVsCorpus: DataFrame,
      exactVsDelta: DataFrame,
      nearPairs: DataFrame): DataFrame = {
    val nearDrops = nearPairs
      .filter(col("db") === 1)
      .select(col("doc_b").as("doc_id"))
      .unionByName(
        nearPairs.filter(col("da") === 1 && col("db") === 0).select(col("doc_a").as("doc_id")))
    val drops = exactVsCorpus
      .unionByName(exactVsDelta)
      .unionByName(nearDrops)
      .distinct()
    delta
      .join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Near-dup pairs (Jaccard ≥ 0.5) restricted to delta-present grams,
    * with delta-membership flags — the standalone shape of
    * [[dedupIncremental]]'s near stage (see its scaladoc for why this
    * equals the full pipeline on every delta-touching pair). */
  private def deltaRestrictedNearPairs(
      s: SparkSession,
      docs: DataFrame,
      delta: DataFrame,
      isDelta: org.apache.spark.sql.Column): DataFrame = {
    val pack = 1048576L
    val g = docs
      .select(
        col("doc_id"),
        isDelta.as("d"),
        call_function("graft_grams", col("text")).as("garr"))
      .filter(col("garr").isNotNull)
      // one bit tighter than ngramPairsPlan's envelope: dn carries a
      // delta flag in the low bit, so doc_id must fit 2^42
      .filter(
        assert_true(
          size(col("garr")) < pack && col("doc_id") >= 0 && col("doc_id") < (1L << 42),
          lit("dedupIncremental packing envelope exceeded"))
          .isNull)
      .select(
        (col("doc_id") * pack * 2 + size(col("garr")) * 2 + col("d").cast("long")).as("dn"),
        explode(col("garr")).as("gram"))
    // delta gram set derived from the DELTA scan (filter-pushed), not
    // from g: the size gate below must be priced with a delta-only job,
    // never a corpus scan. The set is identical to g's flagged rows.
    val deltaGrams = delta
      .select(explode(call_function("graft_grams", col("text"))).as("gram"))
      .distinct()
    // map-side prune: only delta-present grams survive to the exchange.
    // Broadcast only under the measured gate (see scaladoc) — an
    // oversized batch degrades to a linear shuffle semi-join, not an
    // executor-killing broadcast. The count is one eager delta-only job;
    // the plan re-derives deltaGrams (the delta is small by the gate's
    // own admission when the broadcast path is taken).
    val gateMax = broadcastGate(s)
    val gf =
      if (deltaGrams.count() <= gateMax) g.join(broadcast(deltaGrams), Seq("gram"), "left_semi")
      else g.join(deltaGrams, Seq("gram"), "left_semi")
    // shared capped-collect engine (see its scaladoc): a stop-shingle
    // that survives the delta prune (delta batches DO contain corpus-wide
    // boilerplate) costs ≤ 21 buffered longs per map task, never an
    // unbounded buffer or a single-reducer straggler
    decodeFlaggedPairs(Dedup.rarePairCounts(s, gf))
  }

  /** All delta-sized broadcast decisions in the admission operators share
    * this one measured gate (distinct delta grams / delta rows vs
    * `spark.graft.corpus.deltaGramBroadcastMax`): under it, delta-derived
    * sets are hinted broadcast; above it, every probe degrades to a
    * linear shuffle join instead of an executor-killing broadcast. */
  private def broadcastGate(s: SparkSession): Long =
    s.conf.get("spark.graft.corpus.deltaGramBroadcastMax", "2000000").toLong

  /** Decode `(pa, pb, n_inter)` flag-packed pair counts into
    * `(doc_a, doc_b, da, db)` near-dup pairs at Jaccard ≥ 0.5. */
  private def decodeFlaggedPairs(pc: DataFrame): DataFrame =
    pc.select(
      expr("pa DIV 2097152").as("doc_a"),
      expr("pb DIV 2097152").as("doc_b"),
      (col("pa") % 2).as("da"),
      (col("pb") % 2).as("db"),
      expr("(pa DIV 2) % 1048576").as("na"),
      expr("(pb DIV 2) % 1048576").as("nb"),
      col("n_inter"))
      .filter(
        (col("n_inter") / (col("na") + col("nb") - col("n_inter")).cast("double")) >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("da"), col("db"))

  /** Incremental admission against the PERSISTED rare-gram index
    * ([[GramIndex]]) — identical output contract to [[dedupIncremental]],
    * but the established corpus is never scanned: the exact stage probes
    * the index's hash set, and the near stage joins the delta's capped
    * gram aggregation against the index's `(gram, df, ds)` rows. Every
    * `documents` scan in the plan carries the pushed batch-source filter
    * (spec-pinned), so per-crawl cost is O(delta + matched index rows) —
    * the amortization a pipeline that admits batches daily against a
    * slowly-growing corpus actually needs.
    *
    * Exactness vs the full pipeline: combined df = delta df + index df
    * equals the all-docs df for every delta-present gram (the only grams
    * that can produce delta-touching pairs), the member bucket is the
    * concatenation of both sides' packed lists, and grams with delta
    * df > 20 are pre-dropped (total df ≥ delta df can never re-enter the
    * rarity band). The same fixture therefore hash-matches the standalone
    * operator cold — spec-pinned, and `dedup_incremental_idx` runs the
    * SAME DuckDB oracle as `dedup_incremental` through the driver.
    *
    * Broadcast safety: the index side is corpus-sized, so it is only
    * ever probed (broadcast of the DELTA under [[broadcastGate]]) or
    * shuffle-joined (linear in the INDEX, still never the corpus text).
    *
    * `buildIfStale`: a stale/missing index (stamp mismatch —
    * [[GramIndex.isFresh]]) is rebuilt by default; pass false to fail
    * loudly instead — a scheduled admission job that expects a
    * maintained index should not silently pay a full rebuild. */
  def dedupIncrementalIndexed(
      s: SparkSession,
      dir: String,
      indexPath: String,
      deltaSource: String = GramIndex.DefaultDeltaSource,
      buildIfStale: Boolean = true): DataFrame = {
    if (!GramIndex.isFresh(s, dir, indexPath, deltaSource)) {
      if (!buildIfStale)
        throw new IllegalStateException(
          s"gram index at $indexPath is missing or stale for $dir (deltaSource=$deltaSource)")
      GramIndex.build(s, dir, indexPath, deltaSource)
    }
    val gateMax = broadcastGate(s)
    val delta = Tables.documents(s, dir).filter(col("source") === deltaSource)
    val dh = delta.select(col("doc_id"), md5(col("text")).as("h"))
    // ONE eager delta-only job prices both gates: distinct grams (the
    // gram-probe build side) and distinct docs (the hash-probe build
    // side — counted via doc_id so gramless tiny docs are included).
    // The gram count is pre-rarity-filter, i.e. an upper bound of the
    // actual build side — conservative in the safe direction.
    val gateRow = delta
      .select(
        col("doc_id"),
        explode_outer(call_function("graft_grams", col("text"))).as("gram"))
      .agg(
        count_distinct(col("gram")).as("ng"),
        count_distinct(col("doc_id")).as("nd"))
      .head()
    val nGrams = gateRow.getLong(0)
    val nDelta = gateRow.getLong(1)
    val exactVsCorpus =
      if (nDelta <= gateMax)
        GramIndex.hashes(s, indexPath).join(broadcast(dh), Seq("h")).select("doc_id")
      else dh.join(GramIndex.hashes(s, indexPath), Seq("h"), "left_semi").select("doc_id")
    val pack = 1048576L
    val dG = delta
      .select(col("doc_id"), call_function("graft_grams", col("text")).as("garr"))
      .filter(col("garr").isNotNull)
      .filter(
        assert_true(
          size(col("garr")) < pack && col("doc_id") >= 0 && col("doc_id") < (1L << 42),
          lit("dedupIncremental packing envelope exceeded"))
          .isNull)
      .select(
        (col("doc_id") * pack * 2 + size(col("garr")) * 2 + 1L).as("dn"),
        explode(col("garr")).as("gram"))
    val dAgg = dG
      .groupBy("gram")
      .agg(
        count(lit(1)).as("dfd"),
        call_function("graft_collect_capped", col("dn"), lit(20)).as("dsd"))
      // total df ≥ delta df: a gram hotter than the cap inside the batch
      // alone can never be rare, so its (NULL) bucket is dropped here
      .filter(col("dfd") <= 20)
    val probe = dAgg.select("gram")
    val probed =
      if (nGrams <= gateMax)
        GramIndex.grams(s, indexPath).join(broadcast(probe), Seq("gram"), "left_semi")
      else GramIndex.grams(s, indexPath).join(probe, Seq("gram"), "left_semi")
    val buckets = dAgg
      .join(probed, Seq("gram"), "left")
      .filter((col("dfd") + coalesce(col("df"), lit(0L))).between(2, 20))
      // index df ≤ 20 ⇒ its ds is non-NULL by construction; absent gram
      // (no corpus occurrences) contributes an empty member list
      .select(
        array_sort(
          concat(col("dsd"), coalesce(col("ds"), expr("CAST(array() AS ARRAY<BIGINT>)"))))
          .as("ds"))
    val pairCounts = buckets
      .select(
        explode(
          flatten(transform(
            col("ds"),
            (x, i) =>
              transform(
                slice(col("ds"), i + 2, size(col("ds"))),
                y => struct(x.as("pa"), y.as("pb")))))).as("p"))
      // corpus–corpus member pairs carry no admission signal: drop them
      // before they enter the pair aggregate
      .filter((col("p.pa") % 2) + (col("p.pb") % 2) >= 1)
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(count(lit(1)).as("n_inter"))
    survivors(delta, exactVsCorpus, earlierDeltaDups(dh), decodeFlaggedPairs(pairCounts))
  }

  /** Incremental EXACT-dedup admission through a Bloom-filter membership
    * gate — the zero-shuffle shape of [[dedupIncremental]]'s exact stage
    * (near-dup admission is [[dedupIncremental]]/[[dedupIncrementalIndexed]]'s
    * job; a membership sketch cannot express Jaccard).
    *
    * Contract: admit every delta doc whose md5(text) appears nowhere in
    * the established corpus and is the FIRST occurrence within the delta
    * (earlier delta id wins) — exactly [[dedupIncremental]]'s exact-stage
    * drops, and the oracle is that stage's SQL.
    *
    * Why a sketch when the exact stage already works: SHAPE at 100 TB.
    * The plain exact stage distinct-shuffles corpus hashes and shuffle-
    * joins the delta against them — two corpus-sized exchanges per crawl.
    * Here the corpus is aggregated ONCE into `optimalNumOfBits` of Bloom
    * bits ([[graft.functions.BloomContains]]: ~0.9 GB for 10⁹ docs at 3%
    * fpp; the partial-aggregation is a bit-OR merge tree, map-side
    * combined), the bits ride the per-stage task-binary broadcast, and
    * every delta row answers "maybe seen?" at scan speed with ZERO
    * exchange. No false negatives (sketch contract) ⇒ filter-negatives
    * are admitted without ANY join; the maybe-set (true dups + ~3% fpp
    * stragglers) is the only thing verified exactly, via one semi join
    * whose probe side is the corpus scan and whose build side is the
    * TINY candidate-hash set (AQE measures it; no fiat hint) — the
    * corpus is never shuffled anywhere in the plan.
    *
    * The bits are served from the persisted [[BloomStore]] when fresh
    * (the [[dedupIncrementalIndexed]] amortization: per crawl the GATE
    * costs one batch-side scan and zero corpus work; between crawls
    * [[BloomStore.absorb]] folds the admitted batch in with one bit-OR),
    * rebuilt here when missing/stale — pass `buildIfStale = false` to
    * fail loudly instead, the scheduled-job contract.
    * NULL texts never enter the filter and never match the probe
    * (NULL key → false), mirroring md5(NULL) = NULL three-valued joins
    * in the oracle: a NULL-text doc is never dropped in either engine
    * (equality on a NULL hash never fires). */
  def dedupIncrementalBloom(
      s: SparkSession,
      dir: String,
      deltaSource: String = GramIndex.DefaultDeltaSource,
      bloomPath: String = null,
      buildIfStale: Boolean = true): DataFrame = {
    val path = Option(bloomPath).getOrElse(defaultBloomPath(s, dir))
    if (!BloomStore.isFresh(s, dir, path, deltaSource)) {
      if (!buildIfStale)
        throw new IllegalStateException(
          s"bloom store at $path is missing or stale for $dir (deltaSource=$deltaSource)")
      BloomStore.build(s, dir, path, deltaSource)
    }
    val bytes = BloomStore.readFilterBytes(s, path)
    val docs = Tables.documents(s, dir)
    val delta = docs.filter(col("source") === deltaSource)
    // a NULL source is established data, i.e. corpus (dedupIncremental's
    // convention): IS DISTINCT FROM, not !=
    val corpus = docs.filter(!(col("source") <=> lit(deltaSource)))
    val dh = delta
      .select(
        col("doc_id"),
        md5(col("text")).as("h"),
        call_function("graft_bloom_contains", lit(bytes), xxhash64(col("text"))).as("maybe"))
    // confirmed = candidate hashes ACTUALLY in the corpus: the corpus
    // scan is the probe side, the bounded candidate set the build side —
    // scan-local semi join under AQE, zero corpus exchange
    val candH = dh.filter(col("maybe")).select(col("h")).distinct()
    val confirmed = corpus
      .filter(col("text").isNotNull)
      .select(md5(col("text")).as("h"))
      .join(candH, Seq("h"), "left_semi")
      .distinct()
    val exactVsCorpus =
      dh.select(col("doc_id"), col("h")).join(confirmed, Seq("h"), "left_semi").select("doc_id")
    survivors(
      delta,
      exactVsCorpus,
      earlierDeltaDups(dh.select(col("doc_id"), col("h"))),
      // no near stage: empty flag frame with the survivors() schema
      s.emptyDataFrame
        .select(lit(0L).as("doc_a"), lit(0L).as("doc_b"), lit(0L).as("da"), lit(0L).as("db"))
        .limit(0))
  }

  /** [[dedupIncrementalBloom]]'s oracle: [[dedupIncrementalSql]]'s exact
    * stage alone (the bloom gate is an optimization, invisible in the
    * result — no false negatives + exact verify ≡ the full join). */
  val dedupIncrementalBloomSql: String =
    """WITH dd AS (
         SELECT doc_id, lang, source, n_chars, md5(text) AS h
         FROM documents WHERE source = 'src19'),
       ch AS (
         SELECT DISTINCT md5(text) AS h FROM documents
         WHERE source IS DISTINCT FROM 'src19' AND text IS NOT NULL),
       exact_corpus AS (SELECT d.doc_id FROM dd d JOIN ch USING (h)),
       exact_delta AS (
         SELECT d.doc_id
         FROM dd d
         JOIN (SELECT h, MIN(doc_id) AS first_id FROM dd GROUP BY h) f USING (h)
         WHERE d.doc_id > f.first_id),
       dropped AS (
         SELECT doc_id FROM exact_corpus UNION SELECT doc_id FROM exact_delta)
       SELECT doc_id, lang, source, n_chars
       FROM documents
       WHERE source = 'src19' AND doc_id NOT IN (SELECT doc_id FROM dropped)
       ORDER BY doc_id"""


  /** Stable per-dataset store location for [[dedupIncrementalIndexed]]'s
    * driver-run twin (`dedup_incremental_idx`): the first call builds the
    * index, later calls (e.g. bench passes) find it fresh and skip the
    * build — the persisted-between-crawls behavior, observable in the
    * bench numbers. Rooted at `spark.graft.corpus.storeRoot` when set
    * (any Hadoop filesystem — HDFS/object-store URIs work, the store IO
    * goes through the Hadoop FS API throughout), else the local tmpdir. */
  private[graft] def defaultIndexPath(s: SparkSession, dir: String): String =
    Store.path(s, dir, GramIndex.store)

  /** [[BloomStore]]'s per-dataset location — same lifecycle as
    * [[defaultIndexPath]], serving `dedup_incremental_bloom`. */
  private[graft] def defaultBloomPath(s: SparkSession, dir: String): String =
    Store.path(s, dir, BloomStore.store)

  /** Index-lifecycle census — one row per declared body of every
    * persisted store ([[Store.Decl]]), each stamped against its own
    * source table: is the store present, is it FRESH for its default
    * consumer (stamp, format version and the declared binding — the
    * same [[Store.matches]] the stores' own `isFresh` applies), which
    * format version and binding it recorded, and how many rows each body
    * holds. The operator's view of store staleness WITHOUT reading store
    * internals: meta files are a few bytes, and the row counts come from
    * parquet footers (metadata-cheap, the [[Analytics.catalogCounts]]
    * precedent — no column data is ever decoded).
    *
    * Rows-only for the driver: the output describes engine-local store
    * state (paths, build history), which no portable SQL over the source
    * tables can reproduce. The spec pins the contract: fresh stores
    * report fresh=true with positive counts, absent stores report
    * present=false, and a post-build corpus change flips fresh to false.
    *
    * Scale: driver-side meta reads + footer counts — O(stores), no
    * corpus scan, no shuffle; one stamp per source table. */
  def storeStatus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stores = Seq(GramIndex.store, TextIndex.store, CorpusProfile.store, VectorIndex.store,
      BloomStore.store, TextAnalysis.QualityStore, Similarity.RecallStore)
    val stamps = stores.map(_.table).distinct.map(t => t -> Store.stamp(s, dir, t)).toMap
    val rows = stores.flatMap { d =>
      val path = Store.path(s, dir, d)
      val meta = Store.readMeta(s, path)
      val fresh = meta.exists(Store.matches(_, stamps(d.table), d.version(s), d.binding))
      // Body counts resolve through the STORE-grain cache keyed by the
      // meta file's signature (mtime, length, content hash): every store
      // commit ends by rewriting meta, so an unchanged meta means
      // unchanged bodies and the census skips the body listings entirely
      // (the warm cost was the re-LISTING itself — the vector store's
      // partitioned bodies cost ~1s of recursive Hadoop-FS walking per
      // call even when every footer was already memoized). Freshness is
      // NOT cached — it re-derives from the live corpus stamp above, so
      // a corpus change still flips fresh with counts served warm.
      val counts: Map[String, Option[Long]] = meta match {
        case Some(m) =>
          // widen the signature with each body DIR's (mtime, length): a
          // body rewrite that lands with an identical-content, same-size,
          // same-granularity-mtime meta (sub-second rebuild of an
          // unchanged-stamp store) still flips the body dirs' own mtimes,
          // so it can no longer serve stale counts. |bodies| driver stats
          // — cheap next to the recursive walk the cache avoids.
          val key = (fileSig(s, Store.metaPath(path)),
            d.bodies.map(b => fileSig(s, new org.apache.hadoop.fs.Path(path, b))), m)
          Option(storeCountCache.get(path)).filter(_._1 == key).map(_._2).getOrElse {
            val c = d.bodies.map(b => b -> footerCount(s, s"$path/$b")).toMap
            storeCountCache.put(path, (key, c))
            c
          }
        case None =>
          // deleted/absent store: evict any stale entry (a later rebuild
          // at the same path must re-list) and report absence live
          storeCountCache.remove(path)
          d.bodies.map(b => b -> footerCount(s, s"$path/$b")).toMap
      }
      d.bodies.map { body =>
        (d.name, body, meta.isDefined, fresh, meta.map(_("version")), meta.map(_("binding")),
          counts(body))
      }
    }
    rows.toDF("store", "body", "present", "fresh", "format_version", "recorded_info", "n_rows")
  }

  /** (mtime, length) of one file — the meta-file half of the store-grain
    * census cache key. (0, 0) when absent. */
  private def fileSig(s: SparkSession, p: org.apache.hadoop.fs.Path): (Long, Long) = {
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    try { val st = fs.getFileStatus(p); (st.getModificationTime, st.getLen) }
    catch { case _: java.io.FileNotFoundException => (0L, 0L) }
  }

  /** Census body-count cache at STORE grain: path → ((meta signature +
    * body-dir signatures), per-body counts). Bounded at O(#stores per
    * dataset); entries for deleted stores are evicted on the next census
    * call that observes the absence. Accepted granularity: a body whose
    * DIRECTORY (mtime, length) is also unchanged after a rewrite — both
    * the meta file AND every body dir would have to land bit- and
    * stat-identical inside the filesystem's mtime granularity to serve a
    * stale count, far outside the store lifecycle contract (every
    * build/absorb rewrites meta last and touches its body dirs). */
  private val storeCountCache =
    new java.util.concurrent.ConcurrentHashMap[
      String,
      (((Long, Long), Seq[(Long, Long)], Store.Meta), Map[String, Option[Long]])]()

  /** Row count of a parquet store body read ENTIRELY on the driver from
    * file footers (recursive listing + per-file record counts via
    * parquet-hadoop) — zero Spark jobs, which makes the census's
    * "metadata-cheap" claim literal: the previous `read.parquet(...)
    * .count()` ran one metadata-only job PER BODY (10 scheduling
    * round-trips per census call). None when the body is absent or holds
    * no parquet files (an empty partitioned write — matches the
    * AnalysisException → None behavior this replaces). */
  /** Shared daemon pool for footer metadata reads — object-lifetime
    * (daemon threads never block JVM exit), bounded at 16. */
  private lazy val footerPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      16,
      (r: Runnable) => {
        val t = new Thread(r, "graft-footer-census")
        t.setDaemon(true)
        t
      })

  /** Footer-count cache keyed by body path, guarded by the committed-file
    * listing signature (path, length, mtime per file — the Tables
    * schema-cache precedent): a census call re-LISTS the body (cheap, one
    * RPC-ish metadata walk) but only re-OPENS the footers when some file
    * actually changed. A rebuilt/absorbed store changes file names or
    * mtimes → signature miss → fresh read; an untouched store serves the
    * memoized sum. Unbounded in principle but O(#store bodies) in
    * practice (a handful of fixed paths per dataset). */
  private val footerCountCache =
    new java.util.concurrent.ConcurrentHashMap[
      String,
      (Vector[(String, Long, Long)], Long)]()

  private def footerCount(s: SparkSession, dirPath: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(dirPath)
    val conf = s.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    // COMMITTED files only, Spark's own visibility rule: any path with a
    // '_'/'.'-prefixed component (_temporary task attempts, _SUCCESS,
    // .crc sidecars) is invisible to the reader and must be invisible to
    // the census — a crashed build's leftover task files would otherwise
    // double-count or crash the footer read
    def committed(f: org.apache.hadoop.fs.Path): Boolean = {
      var q = f
      while (q != null && q.depth > p.depth) {
        val n = q.getName
        if (n.startsWith("_") || n.startsWith(".")) return false
        q = q.getParent
      }
      true
    }
    if (!fs.exists(p)) {
      footerCountCache.remove(dirPath) // deleted body: drop the stale sum
      None
    } else
      try {
        val it = fs.listFiles(p, true)
        val files = Iterator
          .continually(if (it.hasNext) Some(it.next()) else None)
          .takeWhile(_.isDefined)
          .flatten
          .filter(f => f.getPath.getName.endsWith(".parquet") && committed(f.getPath))
          .toVector
        if (files.isEmpty) None
        else {
          val sig = files
            .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
            .sortBy(_._1)
          Option(footerCountCache.get(dirPath)).filter(_._1 == sig) match {
            case Some((_, total)) => Some(total)
            case None =>
              // footer reads are independent metadata fetches; sequential
              // opens made the census scale with the store's FILE count
              // (the v3 vector store's 96 hash-table partitions alone cost
              // ~2s of driver wall) — the shared bounded pool reads them
              // concurrently (shared across bodies: a per-call pool would
              // pay construction/teardown once per census body)
              val counts = files.map { f =>
                footerPool.submit(new java.util.concurrent.Callable[Long] {
                  def call(): Long = {
                    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
                      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
                    try r.getRecordCount
                    finally r.close()
                  }
                })
              }
              val total = counts.map(_.get()).sum
              footerCountCache.put(dirPath, (sig, total))
              Some(total)
          }
        }
      } catch {
        // an unreadable footer (truncated part from a crash) means the
        // count is unknowable, not zero — the old scan-and-count path
        // surfaced the same state as None via its AnalysisException
        case _: Exception => None
      }
  }

  /** The one-call curation materializer — the operator a training-data
    * user actually runs on a raw drop: keep exactly the documents that
    *   - survive full dedup ([[Dedup.corpusDedupNg]]: exact + near-dup
    *     drops, keeper = lowest doc_id — the oracle-checked predicate),
    *   - classify as English ([[TextAnalysis.langid]] stopword argmax),
    *   - score ≥ 0.5 composite quality ([[TextAnalysis.quality]]),
    * each labeled with its deterministic content-hash split
    * ([[dataSplit]]) — training-ready in one call.
    *
    * Built by COMPOSITION of already-oracled frames, which is the point:
    * every predicate here is individually hash-verified against DuckDB,
    * and the composition is again oracle-exact end to end. Scale shape
    * inherits from the parts (the dedup predicate rides the shared
    * cached pair frame; langid/quality/split are narrow scans) plus
    * three doc_id equi-joins that AQE sizes. */
  /** Session-tunable curation policy, shared by [[curate]] and
    * [[funnel]] so the census always reports the pipeline the curator
    * actually runs; the DuckDB oracle pins the DEFAULT configuration
    * (the knob convention — tunables change outputs, so non-default
    * settings are exercised by specs, not the oracle gate). */
  private[operators] def curatePolicy(s: SparkSession): (String, Double) = {
    val keepLang = s.conf.get("spark.graft.corpus.curateLang", "en")
    require(keepLang.nonEmpty, "curateLang must be non-empty")
    val minQuality = s.conf.get("spark.graft.corpus.curateMinQuality", "0.5").toDouble
    // NaN would make the >= filter silently reject EVERY document
    require(!minQuality.isNaN, s"curateMinQuality must be a number, got NaN")
    (keepLang, minQuality)
  }

  /** Which language verdict the curation policy reads (r16):
    * `heuristic` (default — the oracle-pinned configuration,
    * [[TextAnalysis.langid]]'s stopword argmax) or `model` (the trained
    * NB verdict, [[TextAnalysis.lidModel]], served from the quality
    * store). Non-default is spec territory (the knob convention).
    * Model-source domain = documents with at least one trigram feature;
    * shorter documents have no model verdict and fall out of the
    * curated set — CurateLangSourceSpec pins the swap semantics. */
  private[operators] def curateLangFrame(s: SparkSession, dir: String): DataFrame = {
    val src = s.conf.get("spark.graft.corpus.langSource", "heuristic")
    src match {
      case "heuristic" =>
        TextAnalysis.langid(s, dir).select(col("doc_id"), col("pred_lang"))
      case "model" =>
        TextAnalysis.lidModel(s, dir).select(col("doc_id"), col("pred_lang"))
      case other =>
        throw new IllegalArgumentException(
          s"spark.graft.corpus.langSource must be 'heuristic' or 'model', got '$other'")
    }
  }

  def curate(s: SparkSession, dir: String): DataFrame = {
    val (keepLang, minQuality) = curatePolicy(s)
    val survivors = Dedup.corpusDedupNg(s, dir).select(col("doc_id"), col("n_chars"))
    val lang = curateLangFrame(s, dir)
    val quality = TextAnalysis.quality(s, dir).select(col("doc_id"), col("quality_score"))
    val split = dataSplit(s, dir).select(col("doc_id"), col("split"))
    survivors
      .join(lang, "doc_id")
      .join(quality, "doc_id")
      .join(split, "doc_id")
      .filter(col("pred_lang") === keepLang && col("quality_score") >= minQuality)
      .select(
        col("doc_id"),
        col("pred_lang"),
        col("quality_score"),
        col("split"),
        col("n_chars"))
  }

  /** Shared curation-policy CTE block (near/exact/dropped/lid/q/sp) —
    * ONE definition of the dedup / language / quality / split predicates
    * for every oracle that replays [[curate]]'s policy ([[curateSql]],
    * [[funnelSql]]), so the census and the materializer can never drift
    * apart. Composes after [[Dedup.rarePairCtesSql]]. */
  private[operators] val curatePolicyCtesSql: String = {
    def occ(c: String, pat: String): String =
      s"(LENGTH($c) - LENGTH(REPLACE($c, '$pat', ''))) / ${pat.length}"
    def hits(words: Seq[String]): String =
      words.map(w => occ("(' ' || text || ' ')", s" $w ")).mkString("CAST(", " + ", " AS BIGINT)")
    s"""near AS (
         SELECT DISTINCT doc_b AS doc_id
         FROM inter
         WHERE n_inter / CAST(den AS DOUBLE) >= 0.5),
       exact AS (
         SELECT doc_id FROM (
           SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
           FROM documents) WHERE doc_id <> keeper),
       dropped AS (SELECT doc_id FROM near UNION SELECT doc_id FROM exact),
       lid AS (
         SELECT doc_id,
                CASE WHEN ${hits(Seq("the", "a", "of"))} >=
                          GREATEST(${hits(Seq("der", "und", "das"))},
                                   ${hits(Seq("el", "los", "que"))},
                                   ${hits(Seq("le", "les", "est"))}) THEN 'en'
                     WHEN ${hits(Seq("der", "und", "das"))} >=
                          GREATEST(${hits(Seq("el", "los", "que"))},
                                   ${hits(Seq("le", "les", "est"))}) THEN 'de'
                     WHEN ${hits(Seq("el", "los", "que"))} >=
                          ${hits(Seq("le", "les", "est"))} THEN 'es'
                     ELSE 'fr' END AS pred_lang
         FROM documents),
       dq AS (SELECT * FROM documents WHERE LENGTH(TRIM(text)) > 0),
       toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM dq),
       div AS (SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct
               FROM toks GROUP BY doc_id),
       q AS (
         SELECT b.doc_id,
                ROUND(n_distinct / CAST(n_tokens AS DOUBLE) * 0.5 +
                      CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 0.5 ELSE 0.0 END, 4)
                  AS quality_score
         FROM dq b JOIN div USING (doc_id)),
       sp AS (
         SELECT doc_id,
                $splitCaseSql AS split
         FROM documents)"""
  }

  val curateSql: String =
    s"""WITH ${Dedup.rarePairCtesSql},
       $curatePolicyCtesSql
       SELECT d.doc_id, lid.pred_lang, q.quality_score, sp.split, d.n_chars
       FROM documents d
       JOIN lid USING (doc_id)
       JOIN q USING (doc_id)
       JOIN sp USING (doc_id)
       WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
         AND lid.pred_lang = 'en' AND q.quality_score >= 0.5
       ORDER BY d.doc_id"""

  /** Curation-funnel census — the OBSERVABILITY half of [[curate]]: per
    * source, how many documents the pipeline admits and where the rest
    * fall out, attributing every dropped document to the FIRST stage
    * that rejects it in the fixed order dedup → language → quality (the
    * order [[curate]]'s conjunction reads in; the attribution makes the
    * conjunction auditable — "this crawl lost 40% to near-dups, not to
    * quality" is the fact a pipeline owner acts on between crawls).
    * n_docs = drop_dedup + drop_lang + drop_quality + n_kept on every
    * row by construction (spec-pinned identity), n_kept sums to exactly
    * \|[[curate]]\| (the census and the materializer share predicates —
    * same policy knobs via [[curatePolicy]], same oracle CTEs via
    * [[curatePolicyCtesSql]]), and chars_kept is the surviving character
    * mass (what [[corpusMix]] budgets against).
    *
    * A document with empty text has no quality row (outside
    * [[TextAnalysis.quality]]'s domain); its NULL score fails the
    * ≥ threshold and lands in drop_quality — both engines via the same
    * null-rejecting comparison.
    *
    * Scale shape: identical to [[curate]] — the dedup verdict rides the
    * shared cached pair frame, langid/quality are narrow scans, three
    * doc_id equi-joins AQE sizes, then ONE map-side-combined groupBy
    * folding the corpus to \|sources\| rows. No sort wider than the
    * bounded output. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val (keepLang, minQuality) = curatePolicy(s)
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
    val survivors = Dedup.corpusDedupNg(s, dir).select(col("doc_id"), lit(true).as("survived"))
    val lang = curateLangFrame(s, dir)
    val quality = TextAnalysis.quality(s, dir).select(col("doc_id"), col("quality_score"))
    // pred_lang joins LEFT and a NULL verdict attributes to the lang
    // stage: under langSource=model, documents outside the model's
    // domain (no trigram features) have no verdict and are language
    // rejects by definition — an inner join would drop them from the
    // census entirely and break the waterfall identity (the census must
    // account for EVERY document). Under the default heuristic source
    // the verdict covers every document, so the default path (and its
    // oracle) is unchanged.
    val stage = when(col("survived").isNull, "dedup")
      .when(col("pred_lang").isNull || col("pred_lang") =!= keepLang, "lang")
      .when(col("quality_score") >= minQuality, "kept")
      .otherwise("quality")
    docs
      .join(survivors, Seq("doc_id"), "left")
      .join(lang, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"), "left")
      .withColumn("stage", stage)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("stage") === "dedup", 1)).as("drop_dedup"),
        count(when(col("stage") === "lang", 1)).as("drop_lang"),
        count(when(col("stage") === "quality", 1)).as("drop_quality"),
        count(when(col("stage") === "kept", 1)).as("n_kept"),
        coalesce(sum(when(col("stage") === "kept", col("n_chars"))), lit(0L))
          .as("chars_kept"))
      .orderBy("source")
  }

  /** SQL twin: the same first-drop attribution over the shared policy
    * CTEs; NULL quality scores fail the threshold through the same
    * null-rejecting comparison (COALESCE(score >= 0.5, FALSE)). */
  val funnelSql: String =
    s"""WITH ${Dedup.rarePairCtesSql},
       $curatePolicyCtesSql,
       verdict AS (
         SELECT d.doc_id, d.source, d.n_chars,
                CASE WHEN dr.doc_id IS NOT NULL THEN 'dedup'
                     WHEN lid.pred_lang <> 'en' THEN 'lang'
                     WHEN COALESCE(q.quality_score >= 0.5, FALSE) THEN 'kept'
                     ELSE 'quality' END AS stage
         FROM documents d
         JOIN lid ON lid.doc_id = d.doc_id
         LEFT JOIN q ON q.doc_id = d.doc_id
         LEFT JOIN (SELECT doc_id FROM dropped) dr ON dr.doc_id = d.doc_id)
       SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN stage = 'dedup' THEN 1 ELSE 0 END) AS BIGINT) AS drop_dedup,
              CAST(SUM(CASE WHEN stage = 'lang' THEN 1 ELSE 0 END) AS BIGINT) AS drop_lang,
              CAST(SUM(CASE WHEN stage = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS drop_quality,
              CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(SUM(CASE WHEN stage = 'kept' THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
       FROM verdict
       GROUP BY source
       ORDER BY source"""

  // the gram pipeline IS Dedup.rarePairCtesSql (same tokenize, same
  // df band, round-13 linear form) — composed instead of restated so the
  // incremental oracle can never drift from the pair-pipeline family
  val dedupIncrementalSql: String =
    s"""WITH ${Dedup.rarePairCtesSql},
       near AS (
         SELECT doc_a, doc_b
         FROM inter
         WHERE n_inter / CAST(den AS DOUBLE) >= 0.5),
       delta AS (SELECT doc_id FROM documents WHERE source = 'src19'),
       exact_hit AS (
         SELECT d.doc_id
         FROM documents d
         JOIN documents c ON md5(d.text) = md5(c.text)
         WHERE d.source = 'src19'
           AND (c.source IS DISTINCT FROM 'src19' OR c.doc_id < d.doc_id)),
       near_hit AS (
         SELECT doc_b AS doc_id FROM near WHERE doc_b IN (SELECT doc_id FROM delta)
         UNION
         SELECT doc_a FROM near
         WHERE doc_a IN (SELECT doc_id FROM delta)
           AND doc_b NOT IN (SELECT doc_id FROM delta)),
       dropped AS (SELECT doc_id FROM exact_hit UNION SELECT doc_id FROM near_hit)
       SELECT doc_id, lang, source, n_chars
       FROM documents
       WHERE source = 'src19' AND doc_id NOT IN (SELECT doc_id FROM dropped)
       ORDER BY doc_id"""

  /** Language-mix rebalancing: deterministically downsample the corpus to
    * the largest subset achieving a TARGET language composition
    * (en 40%, de/es/fr/zh 15% each — the "don't let English drown the
    * rest" step after curation). The binding language (smallest
    * `count/share`) is kept whole; every other language is thinned to
    * match, via the same content-hash bucketing as [[dataSplit]]
    * (bucket = first 3 hex chars of md5(text), 4096 buckets), so the kept
    * set is stable across re-crawls and id reassignments. Languages
    * outside the target list have share 0 by definition and are excluded.
    *
    * Rates are COMPUTED from the live per-language counts, not
    * hard-coded: `T = min(count_l / share_l)` is the largest total with
    * the exact target proportions, and `rate_l = min(1, share_l·T /
    * count_l)`. All rate arithmetic is a fixed IEEE double expression
    * over exact integer counts — both engines derive bit-identical rates,
    * so the bucket comparison keeps identical rows (hash sampling makes
    * achieved proportions approximate at ±O(1/√n); the RATES are exact).
    *
    * Scale shape: one tiny per-language count (partial-aggregated, ≤
    * |langs| rows), rates broadcast back, then a scan-speed filter — the
    * corpus is never shuffled; output sort aside, cost is two corpus
    * scans (count + filter). */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shares = Seq(("en", 0.4), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))
      .toDF("lang", "share")
    val jt = Tables
      .documents(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"))
      .join(shares, "lang")
    val t = jt.agg(min(col("cnt") / col("share")).as("tt"))
    val rates = jt
      .crossJoin(broadcast(t))
      .select(col("lang"), least(lit(1.0), col("share") * col("tt") / col("cnt")).as("rate"))
    val bucket = conv(substring(md5(col("text")), 1, 3), 16, 10).cast("int")
    Tables
      .documents(s, dir)
      .join(broadcast(rates), "lang")
      .filter(bucket < col("rate") * 4096.0)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  val corpusMixSql: String =
    """WITH sh AS (
         -- shares CAST to DOUBLE: a bare 0.4 is DECIMAL in DuckDB, and
         -- decimal division would diverge from Spark's IEEE doubles
         SELECT lang, CAST(share AS DOUBLE) AS share
         FROM (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
                      ('fr', 0.15), ('zh', 0.15)) s(lang, share)),
       jt AS (
         SELECT c.lang, c.cnt, sh.share
         FROM (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1) c
         JOIN sh USING (lang)),
       t AS (SELECT MIN(cnt / share) AS tt FROM jt),
       rates AS (
         SELECT lang, LEAST(1.0, share * tt / cnt) AS rate
         FROM jt CROSS JOIN t)
       SELECT d.doc_id, d.lang, d.source, d.n_chars
       FROM documents d JOIN rates USING (lang)
       WHERE CAST(('0x' || substr(md5(d.text), 1, 3)) AS INT) < rate * 4096.0
       ORDER BY d.doc_id"""

  /** Temperature-flattened source sampling plan — the multilingual-
    * pretraining mixing move (the p_i^τ renormalization of XLM-R /
    * mT5-style pipelines, τ = 1/2): big sources are DOWN-weighted and
    * small sources UP-weighted relative to their natural shares, so the
    * head never drowns the tail, and the output is the per-source PLAN
    * a sampler executes — natural share, tempered weight, exact target
    * document count under a 50%-of-corpus budget, and the resulting
    * sampling rate (rate_ppm > 10⁶ = the source is repeated, the
    * standard low-resource upsampling outcome; [[corpusMix]] is the
    * fixed-target sibling, this one derives its targets from the data).
    *
    * Exactness discipline (cross-engine bit-equal): weights are
    * FLOOR(sqrt(n_i)·1000) — IEEE sqrt is correctly rounded, the ×1000
    * product exact below 2⁵³, so both engines derive identical integer
    * weights (n_i^τ for τ = 1/2; other τ would need a pow() both
    * engines round identically, which IEEE does not promise — the
    * constant is part of the contract). Targets are the LARGEST-
    * REMAINDER apportionment of the budget over those integer weights
    * (floor division + ranked remainders, ties broken by source name):
    * pure integer arithmetic, Σ target_i = budget EXACTLY by
    * construction — no float renormalization anywhere. Products are
    * bounded by budget·s_max < 2⁶³ for any source below ~3·10¹⁴ docs.
    *
    * Scale shape: ONE map-side-combined count per source — the corpus's
    * only scan, only shuffle, and only Spark job. The apportionment
    * itself runs DRIVER-SIDE on the collected ≤|sources| count rows
    * (the bounded-driver-fetch precedent: bpeTrain's argmax, the
    * prefix-sum bucket totals) in BigInt — exact at any corpus size,
    * and the count subtree executes exactly once where a declarative
    * rendering re-ran it per consumer (totals/base/extra — the
    * multi-consumer subtree rule). */
  def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables
      .documents(s, dir)
      .groupBy(coalesce(col("source"), lit("(none)")).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val si = counts.map { case (_, n) => math.floor(math.sqrt(n.toDouble) * 1000).toLong }
    val nt = counts.map(c => BigInt(c._2)).sum
    val st = si.map(BigInt(_)).sum
    val budget = nt / 2
    val base = si.map(x => budget * x / st)
    val rem = si.map(x => budget * x % st)
    val extra = (budget - base.sum).toInt // < |sources| by construction
    // largest remainder, ties by source name: the +1 winners
    val winners = counts.indices
      .sortBy(i => (rem(i), counts(i)._1))(
        Ordering.Tuple2(Ordering[BigInt].reverse, Ordering[String]))
      .take(extra)
      .toSet
    val rows = counts.indices.map { i =>
      val (src, n) = counts(i)
      val target = base(i) + (if (winners(i)) 1 else 0)
      (
        src,
        n,
        (BigInt(n) * 1000000 / nt).toLong,
        (BigInt(si(i)) * 1000000 / st).toLong,
        target.toLong,
        (target * 1000000 / BigInt(n)).toLong)
    }
    rows.toDF("source", "n_docs", "share_ppm", "weight_ppm", "target_docs", "rate_ppm")
      .orderBy("source")
  }

  val temperatureMixSql: String =
    """WITH c AS (
         SELECT COALESCE(source, '(none)') AS source, COUNT(*) AS n_docs
         FROM documents GROUP BY 1),
       sc AS (
         SELECT source, n_docs,
                CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000) AS BIGINT) AS si
         FROM c),
       t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nt,
                    CAST(SUM(si) AS BIGINT) AS st FROM sc),
       j AS (
         SELECT source, n_docs, si, nt, st, nt // 2 AS budget
         FROM sc CROSS JOIN t),
       b AS (
         SELECT *, (budget * si) // st AS base, (budget * si) % st AS rem
         FROM j),
       r AS (
         SELECT *,
                ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
                budget - SUM(base) OVER () AS extra
         FROM b)
       SELECT source, n_docs,
              n_docs * 1000000 // nt AS share_ppm,
              si * 1000000 // st AS weight_ppm,
              base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS target_docs,
              (base + CASE WHEN rk <= extra THEN 1 ELSE 0 END) * 1000000 // n_docs AS rate_ppm
       FROM r
       ORDER BY source"""


  /** Admission-time distribution drift: before [[dedupIncremental]] admits
    * a batch, does the batch LOOK like the corpus? Per language: document
    * share in the batch vs the established corpus (and the share delta —
    * the "this crawl is suddenly 40% one language" red flag) plus mean
    * document length both sides (the "this crawl is all boilerplate
    * stubs" flag). The monitoring read a pipeline takes BEFORE admission;
    * [[CorpusProfile]] is its persisted between-crawls sibling.
    *
    * NULL-source docs count as established corpus (the module's
    * [[dedupIncremental]] convention) and NULL langs roll up under
    * `(none)` so no document silently vanishes from the census.
    *
    * Determinism discipline: counts and char sums aggregate as exact
    * longs; every share/mean is a single division of exact integers
    * (exactly-rounded IEEE, same both engines), guarded against empty
    * sides with explicit CASE/when. The share delta is computed from the
    * UNROUNDED shares, then rounded once.
    *
    * Scale shape: ONE corpus scan — per-language conditional aggregates
    * (map-side partial, shuffle carries |langs| partial rows per task),
    * then totals via an unpartitioned window over the PER-LANGUAGE frame.
    * That window is safe where a corpus-sized `OVER ()` would not be: its
    * input is bounded by language cardinality (hundreds of rows at any
    * corpus size). A totals re-aggregate branch would instead duplicate
    * the corpus scan — column pruning narrows the two branches' scans
    * differently, which defeats exchange reuse (the trap round 7 probed
    * and documented on the ngram pipeline) — so the window keeps the
    * operator one-scan BY CONSTRUCTION, not by optimizer luck
    * (plan-pinned in ScaleSpec). Output is |langs| rows. */
  def batchDrift(
      s: SparkSession,
      dir: String,
      batchSource: String = GramIndex.DefaultDeltaSource): DataFrame = {
    val isBatch = coalesce(col("source") === batchSource, lit(false))
    val perLang = Tables
      .documents(s, dir)
      .groupBy(coalesce(col("lang"), lit("(none)")).as("lang"))
      .agg(
        sum(when(isBatch, 1L).otherwise(0L)).as("batch_docs"),
        sum(when(!isBatch, 1L).otherwise(0L)).as("corpus_docs"),
        sum(when(isBatch, col("n_chars")).otherwise(0L)).as("batch_chars"),
        sum(when(!isBatch, col("n_chars")).otherwise(0L)).as("corpus_chars"))
    driftFrom(perLang)
  }

  /** The drift arithmetic over a per-language census frame
    * `(lang, batch_docs, corpus_docs, batch_chars, corpus_chars)` —
    * shared verbatim by [[batchDrift]] (one-table conditional census) and
    * the streaming monitor ([[graft.streaming.EventStreams.driftMonitor]],
    * which builds the census by full-outer-joining a streamed batch
    * census against the static corpus census). One definition means
    * batch/stream parity is structural, not coincidental. */
  private[graft] def driftFrom(perLang: DataFrame): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val batchShare = when(col("batch_total") > 0, col("batch_docs") / col("batch_total").cast("double"))
    val corpusShare = when(col("corpus_total") > 0, col("corpus_docs") / col("corpus_total").cast("double"))
    perLang
      .withColumn("batch_total", sum(col("batch_docs")).over(all))
      .withColumn("corpus_total", sum(col("corpus_docs")).over(all))
      .select(
        col("lang"),
        col("batch_docs"),
        col("corpus_docs"),
        round(batchShare, 4).as("batch_share"),
        round(corpusShare, 4).as("corpus_share"),
        round(batchShare - corpusShare, 4).as("share_delta"),
        when(col("batch_docs") > 0, round(col("batch_chars") / col("batch_docs").cast("double"), 2))
          .as("batch_avg_chars"),
        when(col("corpus_docs") > 0, round(col("corpus_chars") / col("corpus_docs").cast("double"), 2))
          .as("corpus_avg_chars"))
      .orderBy("lang")
  }

  val batchDriftSql: String =
    """WITH d AS (
         SELECT COALESCE(lang, '(none)') AS lang,
                COALESCE(source = 'src19', FALSE) AS is_batch,
                n_chars
         FROM documents),
       per_lang AS (
         SELECT lang,
                SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS batch_docs,
                SUM(CASE WHEN NOT is_batch THEN 1 ELSE 0 END) AS corpus_docs,
                SUM(CASE WHEN is_batch THEN n_chars ELSE 0 END) AS batch_chars,
                SUM(CASE WHEN NOT is_batch THEN n_chars ELSE 0 END) AS corpus_chars
         FROM d GROUP BY 1),
       with_totals AS (
         SELECT *,
                SUM(batch_docs) OVER () AS batch_total,
                SUM(corpus_docs) OVER () AS corpus_total
         FROM per_lang)
       SELECT lang,
              CAST(batch_docs AS BIGINT) AS batch_docs,
              CAST(corpus_docs AS BIGINT) AS corpus_docs,
              ROUND(CASE WHEN batch_total > 0 THEN batch_docs / CAST(batch_total AS DOUBLE) END, 4) AS batch_share,
              ROUND(CASE WHEN corpus_total > 0 THEN corpus_docs / CAST(corpus_total AS DOUBLE) END, 4) AS corpus_share,
              ROUND((CASE WHEN batch_total > 0 THEN batch_docs / CAST(batch_total AS DOUBLE) END) -
                    (CASE WHEN corpus_total > 0 THEN corpus_docs / CAST(corpus_total AS DOUBLE) END), 4) AS share_delta,
              CASE WHEN batch_docs > 0
                   THEN ROUND(batch_chars / CAST(batch_docs AS DOUBLE), 2) END AS batch_avg_chars,
              CASE WHEN corpus_docs > 0
                   THEN ROUND(corpus_chars / CAST(corpus_docs AS DOUBLE), 2) END AS corpus_avg_chars
       FROM with_totals
       ORDER BY lang"""

  /** Per-source Jensen–Shannon divergence from the corpus unigram
    * distribution — [[batchDrift]]'s vocabulary-level sibling: drift
    * reports count/share shifts per language, this reports which SOURCE
    * speaks a different language distributionally ("crawl src7's token
    * mix diverges from the corpus"). JS (symmetric, bounded [0, ln 2])
    * rather than KL so a source with vocabulary the corpus lacks stays
    * finite.
    *
    * The out-of-vocabulary mass is handled in CLOSED FORM: for tokens
    * outside source s's vocabulary, M = Q/2, so their KL(Q‖M)
    * contribution is exactly (1 − Q(V_s))·ln 2 — computed from two exact
    * longs (the corpus-count mass of the source's vocabulary, the corpus
    * total), never by enumerating the complement. ln 2 is a shared
    * LITERAL (0.6931471805599453) because Java's Math.log and libm need
    * not round identically.
    *
    * Determinism: both engines derive each per-(source, token) term from
    * the SAME exact integer counts (c_st, n_s, c_t, n) with an
    * identically-structured float expression, then quantize to integer
    * pico-nats (×10¹²; each |term| ≤ ln 2 so the quantized value and the
    * per-source sum both stay far inside long range) so the per-source
    * aggregation is exact long addition — the [[graft.operators
    * .TextAnalysis!.lmScore]] discipline at 10⁻¹² resolution (terms are
    * per-token-TYPE probabilities, far smaller than per-doc
    * log-likelihoods).
    *
    * Scale shape: tokens collapse to the (source, token) census in ONE
    * shuffle; the corpus census and per-source totals are aggregations
    * OF that census (no second corpus scan); the census join on `tok` is
    * Zipfian but every row is O(1) post-aggregation (AQE splits the
    * skew — the lmScore argument verbatim); totals broadcast. NULL
    * source = `(none)`, the [[batchDrift]] census convention. */
  def sourceDivergence(s: SparkSession, dir: String): DataFrame = {
    val ln2 = 0.6931471805599453
    val st = Tables
      .documents(s, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(
        coalesce(col("source"), lit("(none)")).as("src"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("src", "tok")
      .agg(count(lit(1)).as("c_st"))
    val v = st.groupBy("tok").agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy("src").agg(sum(col("c_st")).as("n_s"))
    val tot = v.agg(sum(col("c_t")).as("n"))
    val p = col("c_st").cast("double") / col("n_s")
    val q = col("c_t").cast("double") / col("n")
    val m = (p + q) / 2.0
    val termP = round(p * log(p / m) * 1e12).cast("long")
    val termQ = round(q * log(q / m) * 1e12).cast("long")
    st.join(v, "tok")
      .join(broadcast(ns), "src")
      .crossJoin(broadcast(tot))
      .groupBy("src")
      .agg(
        max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        sum(termP).as("sp"),
        sum(termQ).as("sq"),
        sum(col("c_t")).as("qmass"),
        max(col("n")).as("nn"))
      .select(
        col("src").as("source"),
        col("n_tokens"),
        col("n_vocab"),
        round(
          lit(0.5) * (col("sp") / 1e12 + col("sq") / 1e12 +
            (lit(1.0) - col("qmass").cast("double") / col("nn")) * lit(ln2)),
          4).as("js_divergence"))
      .orderBy("source")
  }

  val sourceDivergenceSql: String =
    """WITH t AS (
         SELECT COALESCE(source, '(none)') AS src,
                UNNEST(string_split(text, ' ')) AS tok
         FROM documents WHERE LENGTH(TRIM(text)) > 0),
       st AS (SELECT src, tok, COUNT(*) AS c_st FROM t
              WHERE LENGTH(tok) > 0 GROUP BY 1, 2),
       v AS (SELECT tok, SUM(c_st) AS c_t FROM st GROUP BY 1),
       ns AS (SELECT src, SUM(c_st) AS n_s FROM st GROUP BY 1),
       tot AS (SELECT SUM(c_t) AS n FROM v),
       terms AS (
         SELECT src, n_s, c_t, n,
                CAST(ROUND((CAST(c_st AS DOUBLE) / n_s)
                     * LN((CAST(c_st AS DOUBLE) / n_s)
                          / (((CAST(c_st AS DOUBLE) / n_s) + (CAST(c_t AS DOUBLE) / n)) / 2.0))
                     * 1e12) AS BIGINT) AS term_p,
                CAST(ROUND((CAST(c_t AS DOUBLE) / n)
                     * LN((CAST(c_t AS DOUBLE) / n)
                          / (((CAST(c_st AS DOUBLE) / n_s) + (CAST(c_t AS DOUBLE) / n)) / 2.0))
                     * 1e12) AS BIGINT) AS term_q
         FROM st JOIN v USING (tok) JOIN ns USING (src) CROSS JOIN tot)
       SELECT src AS source,
              CAST(MAX(n_s) AS BIGINT) AS n_tokens,
              COUNT(*) AS n_vocab,
              ROUND(0.5 * (SUM(term_p) / 1e12 + SUM(term_q) / 1e12 +
                    (1.0 - CAST(SUM(c_t) AS DOUBLE) / MAX(n)) * 0.6931471805599453),
                    4) AS js_divergence
       FROM terms
       GROUP BY src
       ORDER BY source"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_divergence" -> (sourceDivergence _),
    "text_boilerplate" -> (boilerplate _),
    "batch_drift" -> ((s, d) => batchDrift(s, d)),
    "contamination_excise" -> ((s, d) => contaminationExcise(s, d)),
    "corpus_mix" -> (corpusMix _),
    "corpus_temperature_mix" -> (temperatureMix _),
    "data_split" -> (dataSplit _),
    "text_contamination" -> ((s, d) => contamination(s, d)),
    "dedup_incremental" -> ((s, d) => dedupIncremental(s, d)),
    "dedup_incremental_idx" -> ((s, d) => dedupIncrementalIndexed(s, d, defaultIndexPath(s, d))),
    "dedup_incremental_bloom" -> ((s, d) => dedupIncrementalBloom(s, d)),
    "corpus_shard" -> (corpusShard _),
    "corpus_pack" -> (corpusPack _),
    "corpus_curate" -> (curate _),
    "corpus_funnel" -> (funnel _),
    "store_status" -> (storeStatus _))

  val oracles: Map[String, String] = Map(
    "source_divergence" -> sourceDivergenceSql,
    "text_boilerplate" -> boilerplateSql,
    "batch_drift" -> batchDriftSql,
    "contamination_excise" -> contaminationExciseSql,
    "corpus_mix" -> corpusMixSql,
    "corpus_temperature_mix" -> temperatureMixSql,
    "data_split" -> dataSplitSql,
    "text_contamination" -> contaminationSql,
    "dedup_incremental" -> dedupIncrementalSql,
    // the indexed operator has the SAME output contract — same oracle
    "dedup_incremental_idx" -> dedupIncrementalSql,
    "dedup_incremental_bloom" -> dedupIncrementalBloomSql,
    "corpus_shard" -> corpusShardSql,
    "corpus_pack" -> corpusPackSql,
    "corpus_curate" -> curateSql,
    "corpus_funnel" -> funnelSql)
}

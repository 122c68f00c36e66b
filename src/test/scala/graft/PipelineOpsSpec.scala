package graft

import graft.operators.{Analytics, Multimodal, Similarity, TextAnalysis, Windows}
import org.apache.spark.sql.functions._

/** Invariants for the round-2 operator additions: cube, retention, banded
  * range join, BPE-ish tokenizer, scrub, IVF ANN, frame sampling. */
class PipelineOpsSpec extends GraftSpecBase {

  test("schema-stable reads re-infer when the table is rewritten with a NEW schema") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_schema_cache").toString
    val dir = s"$tmp/data"
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val first = graft.sources.Tables.documents(spark, dir)
    assert(first.columns.toSet == Set("doc_id", "text"))
    assert(first.count() == 1)
    // rewrite the table with an ADDED column: the (path, stamp) key must
    // flip and the next read must see the new schema, not the cached one
    Seq((2L, "b", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val second = graft.sources.Tables.documents(spark, dir)
    assert(second.columns.toSet == Set("doc_id", "text", "lang"),
      s"stale cached schema served after a rewrite: ${second.columns.toSeq}")
    assert(second.select("lang").head.getString(0) == "en")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("span-dup census: cross-doc spans count, within-doc repeats and singletons don't") {
    import spark.implicits._
    // three genuinely disjoint 32-char pools (review finding: the first
    // fixture's suffix pool overlapped S on the digit range)
    val S = (97 until 129).map(_.toChar).mkString // 32 distinct chars
    val pre = (65 until 97).map(_.toChar).mkString // 32 distinct, disjoint from S
    val suf = (161 until 193).map(_.toChar).mkString // 32 distinct, disjoint from both
    val c = (256 until 296).map(_.toChar).mkString // 40 chars, its own pool
    val s2 = (512 until 544).map(_.toChar).mkString // 32 chars, its own pool
    val docs = Seq(
      (1L, pre + S), // shares exactly the one span S with doc 2
      (2L, S + suf),
      (3L, c), // verbatim copy pair: every span duplicated
      (4L, c),
      (5L, s2 + s2), // repeats its span only WITHIN itself -> not cross-doc dup
      (6L, "short") // below span length -> no grams at all
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .spanDupCensus(TextAnalysis.spanGrams(docs))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // the census is COMPLETE over eligible docs: clean doc 5 reports a
    // zero row (distinguishable from too-short doc 6, which has no spans)
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // doc 5 = s2+s2: 33 raw spans but the two s2-aligned ones coincide ->
    // 32 distinct; repeated only WITHIN itself -> zero cross-doc dups
    assert(got(5L) == ((32L, 0L, 0.0)))
    // 64-char docs have 33 spans; only the S-aligned one is shared (every
    // other span mixes pool chars unique to its document)
    val share = BigDecimal(1.0 / 33).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((33L, 1L, share)))
    assert(got(2L) == ((33L, 1L, share)))
    // the verbatim pair: all 9 spans of a 40-char doc duplicated
    assert(got(3L) == ((9L, 9L, 1.0)))
    assert(got(4L) == ((9L, 9L, 1.0)))
  }

  test("span excision: merged regions, kept-text md5, full-cover and clean docs exact") {
    import spark.implicits._
    val S = (97 until 129).map(_.toChar).mkString // 32 chars, shared span
    val pre = (65 until 97).map(_.toChar).mkString // unique pool doc 1
    val suf = (161 until 193).map(_.toChar).mkString // unique pool doc 2
    val c = (256 until 296).map(_.toChar).mkString // 40 chars, verbatim pair
    val s1 = (300 until 332).map(_.toChar).mkString // 32 chars, shared span A
    val s2 = (332 until 364).map(_.toChar).mkString // 32 chars, shared span B
    val x = (364 until 369).map(_.toChar).mkString // 5 chars, unique middle
    val docs = Seq(
      (1L, pre + S), // one dup region at the tail
      (2L, S + suf), // one dup region at the head
      (3L, c), // verbatim copy pair: fully covered
      (4L, c),
      (5L, "clean and short"), // < 32 chars: untouched
      // the islands boundary: doc 6's dup positions are 1 and 33 (gap
      // 32 -> ONE merged region covering everything); doc 7's are 1 and
      // 38 (gap 37 > 32 -> TWO regions), exercising the middle-piece
      // (lead/nxt) rebuild path
      (6L, s1 + s2),
      (7L, s1 + x + s2)
    ).toDF("doc_id", "text")
    // drive the census core directly on the synthetic frame: dup set +
    // positional pass mirror spanExcise's internals via a temp dir table
    val tmp = java.nio.file.Files.createTempDirectory("graft_excise").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val got = graft.operators.TextAnalysis
      .spanExcise(spark, tmp)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.map("%02x".format(_)).mkString
    }
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // docs 1/2 share exactly the span S: doc 1 cuts [33, 64], keeps pre;
    // doc 2 cuts [1, 32], keeps suf
    assert(got(1L) == ((1L, 32L, 32L, md5hex(pre))))
    assert(got(2L) == ((1L, 32L, 32L, md5hex(suf))))
    // the verbatim pair: every position covered -> one region, empty kept
    assert(got(3L) == ((1L, 40L, 0L, md5hex(""))))
    assert(got(4L) == ((1L, 40L, 0L, md5hex(""))))
    // too-short doc: untouched, fingerprint of the original text
    assert(got(5L) == ((0L, 0L, 15L, md5hex("clean and short"))))
    // gap exactly 32: positions 1 and 33 MERGE to one region [1, 64]
    assert(got(6L) == ((1L, 64L, 0L, md5hex(""))))
    // gap 37 > 32: two regions [1, 32] and [38, 69]; the kept text is the
    // MIDDLE piece [33, 37] via the lead/nxt path
    assert(got(7L) == ((2L, 64L, 5L, md5hex(x))))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("cube grand total equals order count and slice sums agree") {
    val c = Analytics.cube(spark, sfDir).cache()
    val nOrders = spark.read.parquet(s"$sfDir/orders.parquet").count()
    val grand = c
      .filter(col("mktsegment") === "<all>" && col("orderstatus") === "<all>")
      .collect()(0)
      .getAs[Long]("n_orders")
    assert(grand == nOrders)
    val leafSum = c
      .filter(col("mktsegment") =!= "<all>" && col("orderstatus") =!= "<all>")
      .agg(sum("n_orders"))
      .collect()(0)
      .getLong(0)
    assert(leafSum == nOrders)
    c.unpersist()
  }

  test("text_tfidf: exact expectation on a constructed corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tfidf").toString
    Seq(
      (1L, "apple banana apple", "en", "src1", 18L),
      (2L, "banana cherry", "en", "src2", 13L),
      (3L, "durian", "en", "src3", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // hand-derived: N=3; df(apple)=1, df(banana)=2, df(cherry)=df(durian)=1;
    // d1: apple tf2 → 6.0, banana tf1 → 1.5; d2: cherry 3.0 > banana 1.5
    val expected = Seq(
      (1L, 1L, "apple", 2L, 1L, 6.0),
      (1L, 2L, "banana", 1L, 2L, 1.5),
      (2L, 1L, "cherry", 1L, 1L, 3.0),
      (2L, 2L, "banana", 1L, 2L, 1.5),
      (3L, 1L, "durian", 1L, 1L, 3.0))
    val got = TextAnalysis
      .tfidf(spark, dir)
      .collect()
      .map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))
      .toSeq
    assert(got == expected)
  }

  test("emb_drift matches a brute-force reference on sf0.001") {
    // independent re-derivation: gate + quantize + biased floor-division
    // centroid + cosine, all in plain Scala over collected rows
    val rows = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .collect()
      .flatMap { r =>
        val emb = Option(r.getAs[collection.Seq[Float]]("embedding"))
        emb
          .filter(e => e.length == 64 && e.forall(x => math.abs(x.toDouble) <= 10000.0))
          .map(e =>
            (r.getAs[Int]("label"), e.toSeq.map(x => math.floor(x.toDouble * 1000).toLong)))
      }
      .filter { case (_, qv) => qv.map(x => x * x).sum > 0 }
    assert(rows.nonEmpty)
    def centroid(vs: Seq[Seq[Long]]): Seq[Long] = {
      val n = vs.size.toLong
      vs.transpose.map(c => (c.sum + 10000000L * n) / n - 10000000L)
    }
    val g = centroid(rows.map(_._2).toSeq)
    val ng = g.map(x => x * x).sum
    val expected = rows.groupBy(_._1).map { case (label, vs) =>
      val c = centroid(vs.map(_._2).toSeq)
      val ns = c.map(x => x * x).sum
      val dp = c.zip(g).map { case (a, b) => a * b }.sum
      val drift =
        if (ns > 0 && ng > 0)
          Some(BigDecimal(dp / (math.sqrt(ns.toDouble) * math.sqrt(ng.toDouble)))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None
      label -> (vs.size.toLong, drift)
    }
    val got = Similarity
      .drift(spark, sfDir)
      .collect()
      .map(r =>
        r.getAs[Int]("label") -> (
          (r.getAs[Long]("n_vecs"),
            Option(r.getAs[java.lang.Double]("drift_cos")).map(_.doubleValue))))
      .toMap
    assert(got.keySet == expected.keySet)
    for ((label, exp) <- expected)
      assert(got(label) == exp, s"label $label: got ${got(label)}, expected $exp")
  }

  test("dq profile: counts are consistent and bounds ordered") {
    val r = Analytics.dqProfile(spark, sfDir).collect()(0)
    val nRows = r.getAs[Long]("n_rows")
    assert(nRows == spark.read.parquet(s"$sfDir/orders.parquet").count())
    assert(r.getAs[Long]("n_with_customer") <= nRows)
    assert(r.getAs[Long]("n_distinct_cust") <= nRows)
    assert(r.getAs[Double]("min_price") <= r.getAs[Double]("max_price"))
  }

  test("corpus_dedup_ng: output carries no exact duplicates and keeps lowest ids") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val out = graft.operators.Dedup.corpusDedupNg(spark, sfDir)
    assert(out.count() > 0 && out.count() <= docs.count())
    val dupGroups = out
      .join(docs.select(col("doc_id"), md5(col("text")).as("h")), "doc_id")
      .groupBy("h")
      .count()
      .filter(col("count") > 1)
    assert(dupGroups.count() == 0, "exact duplicates survived the materializer")
    // the materializer only ever drops doc_b of a pair with doc_a < doc_b
    // (or an exact non-keeper, also > its keeper), so the globally lowest
    // doc_id can never be condemned
    val globalMin = docs.agg(min(col("doc_id"))).collect()(0).getLong(0)
    assert(out.filter(col("doc_id") === globalMin).count() == 1,
      "globally lowest doc_id must survive the materializer")
  }

  test("q18: every returned order exceeds the quantity threshold") {
    val r = graft.operators.Relational.q18BigOrders(spark, sfDir)
    assert(r.count() > 0)
    assert(r.filter(col("total_qty") <= 150.0).count() == 0)
  }

  test("weighted sample: long docs kept at a higher rate than short docs") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val kept = graft.operators.Sampling.weighted(spark, sfDir)
    val full = docs.agg(avg(col("n_chars"))).collect()(0).getDouble(0)
    val samp = kept.agg(avg(col("n_chars"))).collect()(0).getDouble(0)
    assert(kept.count() > 0 && kept.count() < docs.count())
    assert(samp > full, s"weighted sample mean $samp not above corpus mean $full")
  }

  test("ntile quartiles: four tiles per segment, ordered price bands") {
    val r = Windows.ntileQuartiles(spark, sfDir).cache()
    val badCount = r.groupBy("mktsegment").count().filter(col("count") =!= 4).count()
    assert(badCount == 0, "each segment must have exactly 4 quartiles")
    assert(r.filter(col("lo_price") > col("hi_price")).count() == 0)
    r.unpersist()
  }

  test("approx frequent items is a superset of the exact top words") {
    val approx = TextAnalysis.topkApprox(spark, sfDir)
      .select("word").collect().map(_.getString(0)).toSet
    val exactTop = TextAnalysis.heavyHitters(spark, sfDir)
      .limit(5).collect().map(_.getString(0)).toSet
    assert(exactTop.subsetOf(approx),
      s"exact top words ${exactTop.diff(approx)} missing from approx set")
  }

  test("funnel stages are monotonically shrinking") {
    val r = Windows.funnel(spark, sfDir).collect()(0)
    val (v, c, p) = (r.getAs[Long]("n_view"), r.getAs[Long]("n_view_click"),
      r.getAs[Long]("n_view_click_purchase"))
    assert(v >= c && c >= p, s"funnel not monotonic: $v, $c, $p")
    assert(v > 0)
  }

  test("catalog counts cover all ten tables with positive rows") {
    val r = Analytics.catalogCounts(spark, sfDir).collect()
    assert(r.length == 10)
    assert(r.forall(_.getAs[Long]("n_rows") > 0))
  }

  test("retention: activity never precedes the cohort week") {
    val r = Windows.retention(spark, sfDir)
    assert(r.filter(col("week_us") < col("cohort_us")).count() == 0)
    assert(r.count() > 0)
  }

  test("banded range join equals the naive non-equi join") {
    val banded = Windows.rangeJoin(spark, sfDir)
    val e = graft.sources.Tables
      .events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
    val a = e.select(col("user_id"), col("event_id").as("id_a"), col("ts_us").as("ts_a"))
    val b = e.select(col("user_id").as("user_b"), col("event_id").as("id_b"), col("ts_us").as("ts_b"))
    val naive = a
      .join(
        b,
        col("user_id") === col("user_b") && col("id_a") =!= col("id_b") &&
          col("ts_b") >= col("ts_a") && col("ts_b") <= col("ts_a") + 300000000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), min(col("ts_b") - col("ts_a")).as("min_gap_us"))
    assert(banded.exceptAll(naive).isEmpty && naive.exceptAll(banded).isEmpty)
  }

  test("bpe tokenizer: class counts partition the token count") {
    val t = TextAnalysis.tokensBpe(spark, sfDir)
    val bad = t.filter(col("n_tokens") =!= col("n_alpha") + col("n_digit") + col("n_mark"))
    assert(bad.count() == 0)
    assert(t.filter(col("n_tokens") > 0).count() > 0)
  }

  test("scrub: documents without scrubbed spans keep their length") {
    val docs = graft.sources.Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).cast("long").as("orig_len"))
    val joined = TextAnalysis.scrub(spark, sfDir).join(docs, "doc_id")
    val bad = joined.filter(
      col("n_urls") === 0 && col("n_emails") === 0 && col("clean_len") =!= col("orig_len"))
    assert(bad.count() == 0)
  }

  test("IVF ANN: reasonable recall vs brute force, never better than brute") {
    val brute = Similarity.annBrute(spark, sfDir).select("query_id", "neighbor_id")
    val ivf = Similarity.annIvf(spark, sfDir).select("query_id", "neighbor_id")
    val nBrute = brute.count()
    val hit = ivf.intersect(brute).count()
    assert(nBrute > 0)
    val recall = hit.toDouble / nBrute
    assert(recall >= 0.3, s"IVF recall $recall below floor")
    // the top-1 IVF score can never exceed the top-1 brute score
    val b1 = Similarity
      .annBrute(spark, sfDir)
      .filter(col("rk") === 1)
      .select(col("query_id"), col("cos_sim").as("b_cos"))
    val i1 = Similarity
      .annIvf(spark, sfDir)
      .filter(col("rk") === 1)
      .select(col("query_id"), col("cos_sim").as("i_cos"))
    assert(i1.join(b1, "query_id").filter(col("i_cos") > col("b_cos")).count() == 0)
  }

  test("filtered ANN: slice honored, ranking consistent, never beats unfiltered brute") {
    val f = Similarity.annFiltered(spark, sfDir).collect()
    assert(f.nonEmpty)
    // the predicate is absolute: every returned neighbor is in the slice
    assert(f.forall(_.getAs[Int]("neighbor_label") % 2 == 0), "odd-label neighbor returned")
    // per query: ranks 1..k, scores non-increasing in rank order
    for ((_, rs) <- f.groupBy(_.getLong(0))) {
      val sorted = rs.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Int]("rk")).toSeq == (1 to sorted.length).toSeq)
      assert(sorted.sliding(2).forall(p =>
        p.length < 2 || p(0).getAs[Double]("cos_sim") >= p(1).getAs[Double]("cos_sim")))
    }
    // searching a subset can never find a closer neighbor than the full corpus
    val b1 = Similarity.annBrute(spark, sfDir)
      .filter(col("rk") === 1).select(col("query_id"), col("cos_sim").as("b_cos"))
    val f1 = Similarity.annFiltered(spark, sfDir)
      .filter(col("rk") === 1).select(col("query_id"), col("cos_sim").as("f_cos"))
    assert(f1.join(b1, "query_id").filter(col("f_cos") > col("b_cos")).count() == 0)
    // and where brute's OWN top-1 happens to satisfy the predicate, the
    // filtered search must agree with it exactly (same pool, same order)
    val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("b_n"), col("label").as("b_label"))
    val bTop = Similarity.annBrute(spark, sfDir).filter(col("rk") === 1)
      .select(col("query_id"), col("neighbor_id").as("b_n"))
      .join(labels, "b_n")
    val agree = Similarity.annFiltered(spark, sfDir).filter(col("rk") === 1)
      .select(col("query_id"), col("neighbor_id").as("f_n"))
      .join(bTop, "query_id")
    assert(agree.filter(col("b_label") % 2 === 0 && col("b_n") =!= col("f_n")).count() == 0,
      "even-label brute top-1 must be the filtered top-1")
  }

  test("IVF query-sample cache refreshes when the embeddings table changes on disk") {
    // annIvf's query sample rides the stamp-keyed PipelineCache; a bare
    // .persist would let Spark's CacheManager (which matches cached plans
    // by path) serve the OLD sample after an in-place rewrite — the exact
    // staleness bug this pins against
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_stale").toString
    import spark.implicits._
    def write(ids: Range): Unit =
      ids.map(i => (i.toLong, s"l${i % 5}", Array.tabulate(8)(d => (i % 7) + d * 0.25f + 0.5f)))
        .toDF("vec_id", "label", "embedding")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      // the fixture writes 8-dim vectors: point the dim contract at them
      // (also exercises the knob; the validity gate would drop every row
      // under the 64-dim default)
      spark.conf.set("spark.graft.emb.dim", "8")
      write(0 until 400)
      val first = Similarity.annIvf(spark, dir)
        .select("query_id").distinct().collect().map(_.getLong(0)).toSet
      assert(first.nonEmpty && first.forall(_ < 400))
      // replace the table in place with a DISJOINT vec_id range: a stale
      // cached sample would keep emitting query_ids from the old corpus
      write(1000 until 1400)
      val second = Similarity.annIvf(spark, dir)
        .select("query_id").distinct().collect().map(_.getLong(0)).toSet
      assert(second.nonEmpty && second.forall(_ >= 1000),
        s"stale query sample served after the embeddings rewrite: ${second.mkString(",")}")
    } finally {
      spark.conf.unset("spark.graft.emb.dim")
      graft.operators.Dedup.clearSharedCache()
    }
  }

  test("frame sample: ceil(nFrames/8) frames per doc from a REAL y4m stream") {
    val f = Multimodal.frameSample(spark, sfDir).cache()
    // per-doc frame count = ceil((32 + n_chars % 32) / 8) ∈ [4, 8]
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), floor((lit(39) + length(col("text")) % 32) / 8).cast("long").as("want"))
    val perDoc = f.groupBy("doc_id").agg(count(lit(1)).as("n"))
    assert(perDoc.join(docs, "doc_id").filter(col("n") =!= col("want")).count() == 0)
    assert(f.filter(col("src_frame") =!= col("frame_idx") * 8).count() == 0)
    assert(f.filter(col("ts_ms") =!= col("src_frame") * 40).count() == 0)
    f.unpersist()
    // the container is a real YUV4MPEG2 stream: header + FRAME markers
    val frames = (0 until 9).map(i => Multimodal.Content.framePixels(5L, i))
    val stream = Multimodal.Enc.y4m(16, 16, frames)
    assert(new String(stream.slice(0, 9), "US-ASCII") == "YUV4MPEG2")
    val (w, h, back) = Multimodal.Dec.y4m(stream)
    assert((w, h, back.length) == (16, 16, 9))
    assert(back.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) })
  }

  test("gapfill property: equals a brute-force reference on generated ragged series") {
    import spark.implicits._
    val dayUs = 86400000000L
    val rnd = new scala.util.Random(7)
    // ragged fixture: single-day users, long gaps, multi-event days
    // ts as raw epoch NANOS bigint — the on-disk shape Tables.events expects
    val rows = (0 until 12).flatMap { u =>
      val nDays = 1 + rnd.nextInt(6)
      val days = Seq.fill(nDays)(rnd.nextInt(40)).distinct.sorted
      days.flatMap { d =>
        (0 to rnd.nextInt(2)).map { k =>
          (u * 1000L + d * 10L + k, u.toLong,
            (1704067200000L + d * 86400000L + k * 3600000L) * 1000000L,
            "view", rnd.nextDouble() * 100 - 20)
        }
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("gapfill_prop").toString
    rows.toDF("event_id", "user_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Windows.gapfill(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3), r.getDouble(4)))
      .toSeq
    // brute force in plain Scala
    val byUser = rows.groupBy(_._2)
    val expected = byUser.toSeq.flatMap { case (u, es) =>
      val daily = es
        .groupBy(e => e._3 / 86400000000000L * dayUs)
        .map { case (d, g) => d -> g.map(e => math.floor(e._5 * 100).toLong).sum / 100.0 }
      val d0 = daily.keys.min
      val d1 = daily.keys.max
      var lastVal: Option[Double] = None
      (d0 to d1 by dayUs).map { d =>
        val v = daily.get(d)
        if (v.isDefined) lastVal = v
        (u, d, v.map(x => x: Any), v.isEmpty, lastVal.get)
      }
    }
    assert(got.toSet == expected.toSet, "gapfill diverged from the brute-force reference")
  }

  test("gapfill: dense per-user day grid, fill carries the last observed value") {
    val g = Windows.gapfill(spark, sfDir).cache()
    // per user: exactly one row per day of the [first, last] span
    val dayUs = 86400000000L
    val badSpan = g
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), min("day_us").as("d0"), max("day_us").as("d1"))
      .filter(col("n") =!= (col("d1") - col("d0")) / dayUs + 1)
      .count()
    assert(badSpan == 0, "grid rows != span days for some user")
    // span endpoints are observed days, so the fill is total: no NULLs
    assert(g.filter(col("filled_value").isNull).count() == 0)
    // non-gap rows carry their own value; gap rows carry a PRIOR day's
    assert(g.filter(!col("is_gap") && !(col("filled_value") <=> col("day_value"))).count() == 0)
    assert(g.filter(col("is_gap") && col("day_value").isNotNull).count() == 0)
    g.unpersist()
  }

  test("vocab growth: decile census reconciles with the corpus vocabulary") {
    val g = TextAnalysis.vocabGrowth(spark, sfDir).collect()
    assert(g.nonEmpty && g.length <= 10, s"${g.length} deciles")
    // new types are a subset of the types seen in that decile
    assert(g.forall(r => r.getLong(3) <= r.getLong(2)), "new_types exceeds types_seen")
    // the running sum is consistent and ends at the corpus vocabulary size
    val cums = g.map(_.getLong(4))
    assert(cums.zip(g.map(_.getLong(3)).scanLeft(0L)(_ + _).drop(1)).forall(p => p._1 == p._2),
      "cum_types is not the running sum of new_types")
    val vocab = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
      .count()
    assert(cums.last == vocab, s"cumulative vocabulary ${cums.last} != corpus vocabulary $vocab")
    // every document is attributed to exactly one decile
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(g.map(_.getLong(1)).sum == docs, "documents lost between deciles")
  }

  test("novelty: per-doc first-occurrence census matches a string-gram replay") {
    val got = TextAnalysis.novelty(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.nonEmpty)
    // plain-Scala replay over STRING grams (the oracle's view of the
    // same tokenization the hash kernel implements)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .flatMap { case (id, t) =>
        val arr = t.trim.replaceAll(" +", " ").split(" ", -1)
        if (arr.length < 3) None
        else Some(id -> arr.sliding(3).map(_.mkString(" ")).toSet)
      }
    val firstDoc = docs.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).min }
    val ref = docs.map { case (id, gs) =>
      val novel = gs.count(g => firstDoc(g) == id).toLong
      id -> ((gs.size.toLong, novel, novel * 1000000L / gs.size))
    }.toMap
    assert(got.keySet == ref.keySet, "doc domain diverges")
    for ((id, r) <- ref) assert(got(id) == r, s"novelty drift for doc $id: ${got(id)} vs $r")
    // conservation: every distinct gram is novel in exactly one doc
    assert(got.values.map(_._2).sum == firstDoc.size, "gram conservation broken")
    // the fixture discriminates: the first doc is fully novel, some doc isn't
    val minDoc = got.keys.min
    assert(got(minDoc)._3 == 1000000L, "earliest doc must be fully novel")
    assert(got.values.exists(_._3 < 1000000L), "no re-woven content — census unobservable")
  }

  /** Sequential Sennrich-style BPE in plain Scala — THE reference the
    * batched engine must equal byte-for-byte at any M. */
  private def refBpe(m: Int): Seq[(Int, String, String, String, Long)] = {
    var vocab = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select(col("text"))
      .collect()
      .flatMap(r => Option(r.getString(0)))
      .flatMap(_.split(" ", -1))
      .filter(_.nonEmpty)
      .groupBy(identity)
      .map { case (w, ws) => (w.map(_.toString).toVector, ws.length.toLong) }
      .toVector
    val ref = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var stop = false
    for (rank <- 1 to m if !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) stop = true
      else {
        // tie order = binary UTF-8, the contract Spark's UTF8String sort
        // and DuckDB share (NOT Java's UTF-16 compareTo)
        implicit val utf8: Ordering[String] =
          (a: String, b: String) => TextAnalysis.utf8Compare(a, b)
        val ((l, r), pf) = counts.toSeq.minBy { case ((pl, pr), c) => (-c, pl, pr) }
        ref += ((rank, l, r, l + r, pf))
        vocab = vocab.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          for (x <- syms)
            if (out.nonEmpty && out.last == l && x == r) {
              out.remove(out.length - 1); out += (l + r)
            } else out += x
          (out.toVector, f)
        }
      }
    }
    ref.toSeq
  }

  test("bpe train: merge table equals a plain-Scala reference implementation") {
    val rows = TextAnalysis
      .bpeTrain(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_._1)
      .toSeq
    val ref = refBpe(10)
    assert(rows == ref, s"operator\n  $rows\n!= reference\n  $ref")
  }

  test("bpe train in-memory path: sequential parity at M=64, ONE cluster round-trip") {
    spark.conf.set("spark.graft.text.bpeMerges", "64")
    try {
      val (df, rounds) = TextAnalysis.bpeTrainRounds(spark, sfDir)
      val rows = df
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .sortBy(_._1)
        .toSeq
      val ref = refBpe(64)
      assert(rows == ref, s"in-memory merge table diverges from sequential reference at M=64")
      // rounds << M is the point: the incremental-count fit collects the
      // word census once and never returns to the cluster
      assert(rounds == 1, s"$rounds cluster round-trips for ${rows.length} merges")
    } finally spark.conf.unset("spark.graft.text.bpeMerges")
  }

  test("text_quality_calibration: exact NTILE(10) parity with a driver recomputation") {
    val lang = TextAnalysis.langid(spark, sfDir).select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val qual = TextAnalysis.quality(spark, sfDir).select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val labeled = TextAnalysis.qualityModel(spark, sfDir)
      .select("doc_id", "nb_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .collect { case (id, s) if lang.contains(id) && qual.contains(id) =>
        (id, s, if (lang(id) == "en" && qual(id) >= 0.5) 1L else 0L)
      }
    assert(labeled.length > 20, "fixture too small for a meaningful decile census")
    val sorted = labeled.sortBy { case (id, s, _) => (s, id) }
    val n = sorted.length
    val k = 10
    val big = n % k
    val base = n / k
    def decileOf(rn: Int): Int =
      if (rn <= big * (base + 1)) (rn - 1) / (base + 1) + 1
      else big + (rn - big * (base + 1) - 1) / base + 1
    val exp = sorted.zipWithIndex
      .map { case ((_, s, kp), i) => (decileOf(i + 1), s, kp) }
      .groupBy(_._1)
      .map { case (d, rs) =>
        (d, rs.length.toLong, rs.map(_._3).sum,
          rs.map(_._3).sum * 1000000L / rs.length,
          rs.map(_._2).min, rs.map(_._2).max)
      }
      .toSet
    val got = TextAnalysis.qualityCalibration(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
      .toSet
    assert(got == exp, s"calibration census diverged:\n got=${got.toSeq.sortBy(_._1)}\n" +
      s" exp=${exp.toSeq.sortBy(_._1)}")
  }

  test("bpe tie-break follows utf-8 byte order (astral vs private-use tie)") {
    import spark.implicits._
    // U+1F600 encodes F0 9F 98 80 (4 bytes), U+E000 encodes EE 80 80 —
    // UTF-8 orders the private-use char FIRST; Java's UTF-16 compareTo
    // orders the surrogate pair first. The in-memory fit must take the
    // UTF-8 side, because that is what the distributed path (Spark
    // orderBy) and the DuckDB oracle both do.
    val astral = new String(Character.toChars(0x1F600))
    val pua = "\uE000"
    assert(astral.compareTo(pua) < 0, "fixture premise: UTF-16 orders astral first")
    assert(graft.operators.TextAnalysis.utf8Compare(pua, astral) < 0,
      "fixture premise: UTF-8 orders private-use first")
    val vocab = Array(
      (Array(astral, "a"), 5L),
      (Array(pua, "a"), 5L))
    val merges = graft.operators.TextAnalysis.bpeFitInMemory(vocab, 1)
    assert(merges.head._2 == pua,
      s"tie must break toward the UTF-8-smaller left symbol, got ${merges.head._2}")
    // and Spark's own (pf DESC, l, r) sort picks the same side — the
    // cross-engine contract the driver-side heap must reproduce
    val sparkFirst = Seq((astral, "a", 5L), (pua, "a", 5L))
      .toDF("l", "r", "pf")
      .orderBy(col("pf").desc, col("l"), col("r"))
      .head().getString(0)
    assert(sparkFirst == pua, "Spark's UTF8String order disagrees with the driver tie-break")
  }

  test("bpe train distributed fallback: sequential parity at M=64 under batching") {
    spark.conf.set("spark.graft.text.bpeMerges", "64")
    spark.conf.set("spark.graft.text.bpeFitDriverCap", "0") // force the distributed loop
    try {
      val (df, rounds) = TextAnalysis.bpeTrainRounds(spark, sfDir)
      val rows = df
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .sortBy(_._1)
        .toSeq
      val ref = refBpe(64)
      assert(rows == ref, s"batched merge table diverges from sequential reference at M=64")
      // the safe-sharing batch rule must fire at least sometimes even on
      // this small-alphabet fixture (full batching is data-dependent)
      assert(rounds < rows.length, s"$rounds rounds for ${rows.length} merges — no batch ever formed")
    } finally {
      spark.conf.unset("spark.graft.text.bpeMerges")
      spark.conf.unset("spark.graft.text.bpeFitDriverCap")
    }
  }

  test("kmeans: clusters partition the corpus, assignments are the true argmin") {
    val rows = Similarity.embKmeans(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 8, s"${rows.length} clusters")
    val cids = rows.map(_.getInt(0))
    assert(cids.distinct.length == cids.length, "duplicate cluster ids")
    // clusters partition the (clean) corpus exactly
    val total = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum == total, "vectors lost between clusters")
    assert(rows.forall(r => r.getLong(2) <= r.getLong(3)), "min_vec > max_vec")
    // the k knob genuinely changes the clustering
    spark.conf.set("spark.graft.emb.kmeansK", "4")
    try {
      val k4 = Similarity.embKmeans(spark, sfDir).collect()
      assert(k4.length <= 4 && k4.map(_.getLong(1)).sum == total,
        "k=4 must still partition the corpus into at most 4 clusters")
    } finally spark.conf.unset("spark.graft.emb.kmeansK")
  }

  test("text_fertility: reconciles with the per-doc token census, ratios exact") {
    val out = TextAnalysis.fertility(spark, sfDir).collect()
    // per-lang sums must reconcile with text_tokens_bpe's per-doc counts
    val perDoc = TextAnalysis.tokensBpe(spark, sfDir)
      .join(graft.sources.Tables.documents(spark, sfDir).select("doc_id", "lang"), "doc_id")
      .groupBy(coalesce(col("lang"), lit("(none)")).as("lang"))
      .agg(sum(col("n_tokens")).as("t"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.nonEmpty)
    for (r <- out) {
      val (t, n) = perDoc(r.getString(0))
      assert(r.getAs[Long]("n_tokens") == t, s"${r.getString(0)} token sum mismatch")
      assert(r.getAs[Long]("n_docs") == n, s"${r.getString(0)} doc count mismatch")
      val fert = r.getAs[Double]("fertility")
      assert(fert > 0.5 && fert < 20, s"implausible fertility $fert")
    }
    // doc conservation: census rows cover every document exactly once
    val total = graft.sources.Tables.documents(spark, sfDir).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == total)
  }

  test("text_chunk: full coverage at stride 150, window 200, verbatim 50-char overlap") {
    val out = TextAnalysis.chunk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull && length(col("text")) >= 1)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byDoc = out.groupBy(_._1)
    assert(byDoc.keySet == docs.keySet, "every non-empty doc must be chunked")
    for ((id, text) <- docs) {
      val n = text.codePointCount(0, text.length)
      val chunks = byDoc(id).sortBy(_._3)
      assert(chunks.length == (n + 149) / 150, s"doc $id: wrong chunk count")
      chunks.zipWithIndex.foreach { case ((_, idx, off, len, h), i) =>
        assert(idx == i && off == 1 + 150L * i, s"doc $id chunk $i offset arithmetic")
        val start = text.offsetByCodePoints(0, (off - 1).toInt)
        val end = text.offsetByCodePoints(start, math.min(200L, n - off + 1).toInt)
        val expect = text.substring(start, end)
        assert(len == expect.codePointCount(0, expect.length), s"doc $id chunk $i length")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(expect.getBytes("UTF-8")).map("%02x".format(_)).mkString
        assert(h == md, s"doc $id chunk $i hash mismatch")
      }
      // the overlap contract: consecutive full chunks share their
      // boundary 50 chars verbatim (no sentence orphaned at a cut)
      if (n >= 350) {
        val s0 = text.offsetByCodePoints(0, 150)
        val e0 = text.offsetByCodePoints(s0, 50)
        assert(text.substring(s0, e0).nonEmpty)
      }
    }
  }

  test("dedup_semantic: flags exactly the within-cluster cosine hits, lowest keeper wins") {
    val out = Similarity.dedupSemantic(spark, sfDir).collect()
    val total = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(out.length == total, "every valid vector must get a verdict row")
    // brute-force reference: recompute the qualifying pairs from the SAME
    // assignments and check flag + keeper agreement row by row
    val m = Similarity.kmeansAssignments(spark, sfDir)
      .select("vec_id", "cid", "qv", "nq").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray, r.getLong(3)))
    val byCluster = m.groupBy(_._2)
    val expect = scala.collection.mutable.Map.empty[Long, Long] // vb -> min va
    for ((_, ms) <- byCluster; Array(a, b) <- ms.sortBy(_._1).combinations(2)) {
      val dp = a._3.zip(b._3).map { case (x, y) => x * y }.sum
      if (dp > 0 && BigInt(100) * BigInt(dp) * BigInt(dp) >= BigInt(9) * BigInt(a._4) * BigInt(b._4)) {
        val (va, vb) = (math.min(a._1, b._1), math.max(a._1, b._1))
        expect(vb) = math.min(expect.getOrElse(vb, Long.MaxValue), va)
      }
    }
    for (r <- out) {
      val vid = r.getLong(0)
      val isDup = r.getBoolean(2)
      assert(isDup == expect.contains(vid), s"flag mismatch for $vid")
      if (isDup) assert(r.getLong(3) == expect(vid), s"keeper mismatch for $vid")
      else assert(r.isNullAt(3), s"keeper must be NULL for keeper $vid")
    }
    // a keeper is never itself flagged as a dup of something later: dup_of
    // always points at a LOWER id (survivorship is a DAG rooted at keepers)
    assert(out.filter(_.getBoolean(2)).forall(r => r.getLong(3) < r.getLong(0)))
  }

  test("pq: residual construction + codes + q_err replay driver-side; codes beat cell-0") {
    val rows = Similarity.embPq(spark, sfDir).collect()
    val vecs = Similarity.quantizedEmbeddings(spark, sfDir)
      .select(col("vec_id"), col("qv")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    assert(rows.length == vecs.length, "one code word per gated vector")
    for (r <- rows; j <- 1 to 8) {
      val c = r.getInt(j)
      assert(c >= 0 && c < 256, s"vec ${r.getLong(0)}: code ${j - 1} out of range: $c")
    }
    // float distance sums can dip a hair under zero; anything beyond
    // epsilon means the argmin picked a non-minimal cell
    assert(rows.forall(_.getDouble(9) >= -1e-6), "negative quantization error")
    // ---- full driver-side replay of the RESIDUAL construction, with
    // the SAME IEEE expression shapes the engine uses (lloydD, cosine,
    // the pmod floor-division) — the r16 oracle-discipline pin that the
    // residual encoding is bit-replayable, independent of DuckDB
    val subDim = 8
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def sumVecs(vs: Seq[Array[Long]]): Array[Long] =
      vs.reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    // 1. seed (vec_id % 16) centroid sums + argmax-cosine assignment
    //    (ties to the lower cell — ascending iteration + strict >)
    val seed = vecs.groupBy(_._1 % 16).map { case (cell, ms) =>
      val sv = sumVecs(ms.map(_._2))
      cell -> (sv, dot(sv, sv))
    }
    val seedCells = seed.keys.toSeq.sorted
    val cellOf = vecs.map { case (id, v) =>
      val sn = math.sqrt(dot(v, v).toDouble)
      var best = (-2.0, -1L)
      for (cell <- seedCells) {
        val (cv, nc) = seed(cell)
        val cs = dot(v, cv).toDouble / (sn * math.sqrt(nc.toDouble))
        if (cs > best._1) best = (cs, cell)
      }
      id -> best._2
    }.toMap
    // 2. rounded ASSIGNED-cell centroids: floor(cv / c) via the exact
    //    pmod form the engine uses
    def floorDiv(x: Long, c: Long): Long = (x - (((x % c) + c) % c)) / c
    val rc = vecs.groupBy(p => cellOf(p._1)).map { case (cell, ms) =>
      val sv = sumVecs(ms.map(_._2))
      cell -> sv.map(floorDiv(_, ms.length.toLong))
    }
    // 3. integer residuals
    val resid = vecs.map { case (id, v) =>
      id -> v.zip(rc(cellOf(id))).map { case (x, m) => x - m }
    }
    // 4. residual subspace seed codebooks (vec_id % 256 per sub_id),
    //    then FOUR Lloyd refinement rounds (assign by lloydD's exact
    //    expression, ties to the lower cid; recompute integer means of
    //    the assigned groups; a cell losing all members keeps its seed
    //    centroid) — the r16-verdict 8-bit construction (PqRounds = 4)
    def subSlice(v: Array[Long], j: Int) = v.slice(j * subDim, (j + 1) * subDim)
    val seedCb: Map[(Int, Long), (Array[Long], Long, Long)] =
      (for (j <- 0 until 8; (cid, ms) <- resid.groupBy(_._1 % 256)) yield {
        val sv = sumVecs(ms.map(p => subSlice(p._2, j)))
        (j, cid) -> (sv, ms.length.toLong, dot(sv, sv))
      }).toMap
    val cids = resid.map(_._1 % 256).distinct.sorted
    def assignTo(cb: Map[(Int, Long), (Array[Long], Long, Long)])(
        sq: Array[Long], j: Int): (Long, Double) = {
      val nsq = dot(sq, sq).toDouble
      var best = (Double.MaxValue, -1L)
      for (cid <- cids) {
        val (sv, c, ns) = cb((j, cid))
        val d = nsq - 2.0 * dot(sq, sv).toDouble / c.toDouble +
          ns.toDouble / (c * c).toDouble
        if (d < best._1) best = (d, cid)
      }
      (best._2, best._1)
    }
    val subCb: Map[(Int, Long), (Array[Long], Long, Long)] =
      (1 to 4).foldLeft(seedCb) { (cb, _) =>
        val assigned: Seq[(Long, Int, Long, Array[Long])] =
          for ((id, rv) <- resid.toSeq; j <- 0 until 8) yield {
            val sq = subSlice(rv, j)
            (id, j, assignTo(cb)(sq, j)._1, sq)
          }
        val refined = assigned.groupBy(p => (p._2, p._3)).map { case ((j, cid), ms) =>
          val sv = sumVecs(ms.map(_._4))
          (j, cid) -> (sv, ms.length.toLong, dot(sv, sv))
        }
        cb.map { case (k, v) => k -> refined.getOrElse(k, v) }
      }
    // 5. per (vector, subspace) argmin against the REFINED codebook,
    //    q_err = the fixed-order d0+…+d7 sum
    val expect = resid.map { case (id, rv) =>
      var err = 0.0
      val codes = (0 until 8).map { j =>
        val sq = subSlice(rv, j)
        val (cid, d) = assignTo(subCb)(sq, j)
        err += d
        cid
      }
      id -> (codes, BigDecimal(err).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    for (r <- rows) {
      val (codes, qe) = expect(r.getLong(0))
      for (j <- 0 until 8)
        assert(r.getInt(j + 1).toLong == codes(j),
          s"vec ${r.getLong(0)} sub $j: code ${r.getInt(j + 1)} != replayed ${codes(j)}")
      assert(r.getDouble(9) == qe,
        s"vec ${r.getLong(0)}: q_err ${r.getDouble(9)} != replayed $qe")
    }
    // 6. the codebook genuinely fits the residuals: mean argmin error
    //    beats assigning every residual to cell 0
    val zeroErr = resid.map { case (_, rv) =>
      (0 until 8).map { j =>
        val sq = subSlice(rv, j)
        val (sv, c, ns) = subCb((j, 0L))
        dot(sq, sq).toDouble - 2.0 * dot(sq, sv).toDouble / c.toDouble +
          ns.toDouble / (c * c).toDouble
      }.sum
    }.sum / resid.length
    val meanArgmin = rows.map(_.getDouble(9)).sum / rows.length
    assert(meanArgmin <= zeroErr + 1e-9,
      s"argmin codes ($meanArgmin) must not lose to constant cell 0 ($zeroErr)")
  }

  test("pq ANN: codes retrieve genuinely near vectors (top-decile containment >> chance)") {
    val got = Similarity.annPq(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty)
    // exact L2 ground truth over the same gated integer vectors
    val vecs = Similarity.quantizedEmbeddings(spark, sfDir)
      .select(col("vec_id"), col("qv")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val byId = vecs.toMap
    val topFrac = math.max(5, vecs.length / 10)
    def l2(a: Array[Long], b: Array[Long]): Double =
      a.zip(b).map { case (x, y) => val d = (x - y).toDouble; d * d }.sum
    val topDecile: Map[Long, Set[Long]] = got.map(_._1).distinct.map { q =>
      val qv = byId(q)
      q -> vecs.filter(_._1 != q)
        .sortBy { case (id, v) => (l2(qv, v), id) }
        .take(topFrac).map(_._1).toSet
    }.toMap
    val contained = got.count { case (q, n) => topDecile(q).contains(n) }
    val rate = contained.toDouble / got.length
    // chance would be ~0.1 (decile); the 16-cell/subspace codebook on
    // this unclustered synthetic data measured ~0.5 — pin well above
    // chance, well below the measurement (deterministic, not a seed roll)
    assert(rate >= 0.3, s"PQ retrieval no better than chance: $rate")
  }

  test("ivfpq: candidates come only from probed cells; adist agrees with pure ADC") {
    val ivfpq = Similarity.annIvfPq(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(ivfpq.nonEmpty)
    // adist is the SAME number ann_pq computes for any shared pair —
    // the cell filter changes candidate sets, never scores
    val pq = Similarity.annPq(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for ((pair, d) <- ivfpq if pq.contains(pair))
      assert(pq(pair) == d, s"adist diverged between ivfpq and pq on $pair")
    // the cell filter searches a SUBSET of pq's candidates, so per query
    // its best distance can never beat the unfiltered search's best
    // (derived from the collect above — no second annPq job)
    val pqBest = pq.toSeq
      .map { case ((q, _), d) => (q, d) }
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).min }
    for ((q, best) <- ivfpq.groupBy(_._1._1).map { case (q, xs) => q -> xs.map(_._2).min })
      assert(best >= pqBest(q) - 1e-9,
        s"query $q: ivfpq ($best) beat the unfiltered search (${pqBest(q)}) — impossible for a subset")
  }

  test("lm score: negative mean log-likelihood, token count agrees with text_stats") {
    val lm = TextAnalysis.lmScore(spark, sfDir).cache()
    // every unigram probability < 1 => every mean log-likelihood < 0
    assert(lm.filter(col("lm_score") >= 0).count() == 0)
    // the split-token count must equal text_stats' arithmetic token count
    val st = TextAnalysis.stats(spark, sfDir).select(col("doc_id"), col("n_tokens").as("st_n"))
    assert(lm.join(st, "doc_id").filter(col("n_tokens") =!= col("st_n")).count() == 0)
    assert(lm.count() == st.count())
    lm.unpersist()
  }

  test("anomaly: flags only >=3-sigma deviations, never without history") {
    val a = Windows.anomaly(spark, sfDir).cache()
    assert(a.count() > 0, "fixture produced no anomalies — test is vacuous")
    // |cents - mean| > 3 sigma  =>  |z| >= 3.0 even after 4-dp rounding
    assert(a.filter(abs(col("z")) < 3.0).count() == 0)
    // brute recheck: every flagged event's user has >= 10 earlier events
    val e = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id").as("u"), unix_micros(col("ts")).as("t"), col("event_id").as("i"))
    val withPriors = a.join(e, a("user_id") === col("u"))
      .filter(col("t") < col("ts_us") || (col("t") === col("ts_us") && col("i") < col("event_id")))
      .groupBy(a("event_id")).count()
      .filter(col("count") < 10)
    assert(withPriors.count() == 0, "an event was flagged with fewer than 10 prior events")
    a.unpersist()
  }

  test("corpus mix: binding language kept whole, only target languages, stable") {
    val m = graft.operators.CorpusOps.corpusMix(spark, sfDir).cache()
    val kept = m.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet.subsetOf(Set("en", "de", "es", "fr", "zh")))
    // T = min(cnt/share) makes that language's rate exactly 1: kept whole
    assert(kept.exists { case (l, k) => k == full(l) },
      s"no binding language kept whole: kept=$kept full=$full")
    // every language thinned, never grown
    assert(kept.forall { case (l, k) => k <= full(l) })
    // content-hash bucketing: a second run keeps the identical rows
    val again = graft.operators.CorpusOps.corpusMix(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(m.collect().map(_.getLong(0)).toSet == again)
    m.unpersist()
  }

  test("repetition: fractions bounded, a literally-repeating doc scores near 1") {
    val r = TextAnalysis.repetition(spark, sfDir).cache()
    assert(r.count() > 0)
    assert(r.filter(col("rep_gram_frac") < 0 || col("rep_gram_frac") > 1).count() == 0)
    assert(r.filter(col("top_tok_share") <= 0 || col("top_tok_share") > 1).count() == 0)
    assert(r.filter(col("n_grams_distinct") > col("n_grams")).count() == 0)
    r.unpersist()
    // synthetic sanity: "a b c" * 50 has 3 distinct grams over 148 positions
    val dir = java.nio.file.Files.createTempDirectory("rep_fixture").toString
    import spark.implicits._
    Seq((1L, ("a b c " * 50).trim, "en", "srcX", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = TextAnalysis.repetition(spark, dir).head()
    assert(row.getAs[Long]("n_words") == 150 && row.getAs[Long]("n_grams_distinct") == 3)
    assert(row.getAs[Double]("rep_gram_frac") > 0.97)
  }

  test("search: top-20 ranked by score, every hit matches at least one term") {
    val r = TextAnalysis.search(spark, sfDir).collect()
    assert(r.length == 20)
    val scores = r.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "scores not descending")
    assert(r.forall(row =>
      row.getAs[Long]("tf_spark") > 0 || row.getAs[Long]("tf_join") > 0 ||
        row.getAs[Long]("tf_stream") > 0))
  }

  test("search: adjacent repeats count fully, an absent term never poisons scores") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("search_fixture").toString
    // no doc contains "stream"; doc 1 has ADJACENT repeats of "spark"
    Seq(
      (1L, "spark spark spark join", "en", "srcX", 0L),
      (2L, "join alone here today", "en", "srcX", 0L),
      (3L, "nothing relevant at all", "en", "srcX", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.search(spark, dir).collect()
    assert(r.nonEmpty, "zero-df term poisoned every score (NaN)")
    val byId = r.map(row => row.getAs[Long]("doc_id") -> row).toMap
    assert(byId(1L).getAs[Long]("tf_spark") == 3,
      s"adjacent repeats undercounted: tf_spark=${byId(1L).getAs[Long]("tf_spark")}")
    assert(!byId.contains(3L), "a doc matching no term scored > 0")
  }

  test("int8 quantization: range bounds hold and reconstruction stays within scale/2") {
    val q = Similarity.embQuantize(spark, sfDir).cache()
    assert(q.filter(col("q_min") < -127 || col("q_max") > 127).count() == 0)
    assert(q.filter(abs(col("q_sum")) > col("q_l1")).count() == 0)
    assert(q.filter(col("scale") <= 0).count() == 0)
    q.unpersist()
    // round-trip bound on the raw arrays: |e[i] - q[i]*scale| <= scale/2
    val (scale, qarr) = Similarity.quantizeInt8(col("embedding"))
    val worst = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .select(
        (aggregate(
          zip_with(col("embedding"), qarr, (e, qi) => abs(e - qi * scale)),
          lit(0.0),
          (a, v) => greatest(a, v)) / scale).as("rel_err"))
      .agg(max(col("rel_err")))
      .head()
      .getDouble(0)
    assert(worst <= 0.500001, s"reconstruction error $worst × scale exceeds the rounding bound")
  }

  test("emb_quantize: a component at half of max|x| rounds like DuckDB's float32 scale") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("quantize_tie").toString
    // 0.31f is exactly half of 0.62f: over a float32 scale it divides to
    // 63.49999709 (DuckDB 1.0's answer), over a double scale to 63.5
    Seq((1L, Array(-0.62f, 0.31f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = Similarity.embQuantize(spark, dir).head()
    // the row DuckDB's embQuantizeSql returns for this table
    assert(r.getAs[Double]("scale") == 0.004882)
    assert(r.getAs[Long]("q_max") == 63, s"q_max ${r.getAs[Long]("q_max")}")
    assert(r.getAs[Long]("q_min") == -127)
    assert(r.getAs[Long]("q_sum") == -64)
    assert(r.getAs[Long]("q_l1") == 190)
  }

  test("text_pii: counts reconcile and redaction changes exactly the flagged docs") {
    val p = TextAnalysis.pii(spark, sfDir)
    // n_pii is the exact sum of its parts
    assert(p.filter(col("n_pii") =!= col("n_ip") + col("n_phone") + col("n_idrun")).count() == 0)
    // an unflagged doc's redacted fingerprint IS its raw fingerprint; a
    // flagged doc's never is (placeholders always change the text)
    val joined = p.join(
      spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"), md5(col("text")).as("raw_md5")),
      "doc_id")
    assert(joined.filter(col("n_pii") === 0 && col("clean_md5") =!= col("raw_md5")).count() == 0,
      "clean doc changed by redaction")
    assert(joined.filter(col("n_pii") > 0 && col("clean_md5") === col("raw_md5")).count() == 0,
      "flagged doc not changed by redaction")
  }

  test("len_outliers: histogram median/MAD are exact and the fence catches a planted freak") {
    // real table: census sanity (exact median/MAD positive, frac consistent)
    val real = TextAnalysis.lenOutliers(spark, sfDir).collect()
    assert(real.nonEmpty)
    for (r <- real) {
      assert(r.getLong(2) > 0 && r.getLong(3) >= 0)
      assert(math.abs(r.getDouble(5) - r.getLong(4).toDouble / r.getLong(1)) <= 1e-4)
    }
    // planted fixture: 30 docs of length ~100, one 10000-char freak —
    // median/MAD must ignore the freak, the 5·MAD fence must flag it
    val dir = java.nio.file.Files.createTempDirectory("graft_outlier").toString
    try {
      import spark.implicits._
      val rows = (1 to 30).map(i => (i.toLong, s"doc $i body", "en", "srcX", 100L + (i % 3))) :+
        ((31L, "freak body", "en", "srcX", 10000L))
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = TextAnalysis.lenOutliers(spark, dir).collect()
      assert(out.length == 1)
      val r = out(0)
      assert(r.getLong(2) == 101L, s"median wrong: $r") // lower median of 100,101,102 mix
      assert(r.getLong(3) <= 2L, s"MAD polluted by the freak: $r")
      assert(r.getLong(4) == 1L, s"freak not flagged: $r")
    } finally graft.operators.Dedup.clearSharedCache()
  }

  test("boilerplate: planted common shingle is cut from every carrier, exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_boiler").toString
    try {
      import spark.implicits._
      // 6 docs share the shingle "aaa bbb ccc" (df=6 ≥ 5) at position 3;
      // the rest of each doc is unique filler, so only those 3 words go
      val mk = (i: Int) => s"u$i v$i aaa bbb ccc w$i x$i y$i"
      val rows = (1 to 6).map(i => (i.toLong, mk(i), "en", "srcX", 40L))
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.operators.CorpusOps.boilerplate(spark, dir).collect()
      assert(out.length == 6, s"every carrier must be cut, got ${out.length}")
      for (r <- out) {
        val i = r.getLong(0)
        assert(r.getLong(1) == 8L, s"n_words wrong: $r")
        assert(r.getLong(2) == 3L, s"exactly the shingle's 3 words must go: $r")
        val expected = java.security.MessageDigest.getInstance("MD5")
          .digest(s"u$i v$i w$i x$i y$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(r.getString(3) == expected, s"cleaned text mismatch for doc $i")
      }
      // real table: removal counts stay within the doc and change content
      val real = graft.operators.CorpusOps.boilerplate(spark, sfDir)
      assert(real.filter(col("n_removed") < 1 || col("n_removed") > col("n_words")).count() == 0)
    } finally graft.operators.Dedup.clearSharedCache()
  }

  test("session knobs: non-default settings genuinely change the operators") {
    import graft.operators.{CorpusOps, Similarity}
    // curate policy knobs, proven on a planted bilingual fixture (the
    // driver corpus is English-ish soup — langid never predicts de there)
    val bilingual = java.nio.file.Files.createTempDirectory("graft_curate_knob").toString
    locally {
      import spark.implicits._
      def en(i: Int) = s"the quick fox $i of a hill saw the shape of a cloud over the lake $i"
      def de(i: Int) = s"der hund $i und das haus und der baum das licht und der weg $i"
      val rows = (1 to 5).map(i => (i.toLong, en(i) * 3, "en", "srcX", (en(i) * 3).length.toLong)) ++
        (6 to 10).map(i => (i.toLong, de(i) * 3, "de", "srcX", (de(i) * 3).length.toLong))
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$bilingual/documents.parquet")
    }
    spark.conf.set("spark.graft.corpus.curateLang", "de")
    spark.conf.set("spark.graft.corpus.curateMinQuality", "0.0")
    try {
      val de = CorpusOps.curate(spark, bilingual)
      assert(de.filter(col("pred_lang") =!= "de").count() == 0)
      assert(de.count() > 0, "de-curation empty — knob not applied or fixture degenerate")
      assert(de.select("doc_id").collect().map(_.getLong(0)).forall(_ >= 6L),
        "an english doc slipped through the de policy")
    } finally {
      spark.conf.unset("spark.graft.corpus.curateLang")
      spark.conf.unset("spark.graft.corpus.curateMinQuality")
      graft.operators.Dedup.clearSharedCache()
    }
    // IVF cell-count knob: k=4 assignment must produce ≤ 4 distinct cells,
    // and the k-tagged cache must NOT serve the k=16 assignment
    spark.conf.set("spark.graft.dedup.ivfCells", "4")
    try {
      val cells4 = Similarity.ivfDedup(spark, sfDir).select("cell").distinct().collect()
        .map(_.getInt(0)).toSet
      assert(cells4.nonEmpty && cells4.forall(c => c >= 0 && c < 4),
        s"k=4 pairing produced cells $cells4 — stale k=16 assignment served?")
    } finally {
      spark.conf.unset("spark.graft.dedup.ivfCells")
      graft.operators.Dedup.clearSharedCache()
    }
    // boilerplate threshold knob: raising df above the planted shingle's
    // frequency must empty the cut set
    val dir = java.nio.file.Files.createTempDirectory("graft_boiler_knob").toString
    import spark.implicits._
    (1 to 6).map(i => (i.toLong, s"u$i v$i aaa bbb ccc w$i x$i y$i", "en", "srcX", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.conf.set("spark.graft.text.boilerplateDf", "7")
    try assert(CorpusOps.boilerplate(spark, dir).count() == 0,
      "df=7 threshold must spare the df=6 shingle")
    finally spark.conf.unset("spark.graft.text.boilerplateDf")
    // pagerank iteration knob, on a planted PATH graph (1–2–3): the
    // sf0.001 near-dup graph is symmetric cliques, whose ranks hit the
    // fixed point at iteration 1 — a path's asymmetric degrees keep
    // moving for several rounds, so iters=1 vs default must differ.
    // Jaccard: J(1,2)=4/5, J(2,3)=4/7 (edges), J(1,3)=3/7 (no edge).
    val pg = java.nio.file.Files.createTempDirectory("graft_pr_knob").toString
    Seq(
      (1L, "a b c d e f", "en", "srcX", 11L),
      (2L, "a b c d e f g", "en", "srcX", 13L),
      (3L, "b c d e f g h i", "en", "srcX", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$pg/documents.parquet")
    try {
      val three = graft.operators.Graph.pagerank(spark, pg).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(three.keySet == Set(1L, 2L, 3L), s"path graph mis-derived: $three")
      spark.conf.set("spark.graft.graph.pagerankIters", "1")
      val one = graft.operators.Graph.pagerank(spark, pg).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(one.keySet == three.keySet, "node set must not depend on iteration count")
      assert(one != three, "iters=1 equals iters=3 — knob not applied")
      spark.conf.set("spark.graft.graph.pagerankIters", "50")
      val e = intercept[IllegalArgumentException](
        graft.operators.Graph.pagerank(spark, pg))
      assert(e.getMessage.contains("pagerankIters"), s"wrong error: ${e.getMessage}")
    } finally {
      spark.conf.unset("spark.graft.graph.pagerankIters")
      graft.operators.Dedup.clearSharedCache()
    }
  }

  test("lm_bigram: conditional likelihoods are log-probabilities over every bigram position") {
    val lm = TextAnalysis.lmBigram(spark, sfDir)
    // ln p ≤ 0 always (a deterministic bigram scores exactly 0)
    assert(lm.filter(col("lm_bigram_score") > 0).count() == 0)
    // every bigram position is scored: n_bigrams == n_words − 1 per doc
    val arr = split(trim(regexp_replace(col("text"), " +", " ")), " ")
    val words = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), size(arr).cast("long").as("nw"))
      .filter(col("nw") >= 2)
    val bad = lm.join(words, "doc_id").filter(col("n_bigrams") =!= col("nw") - 1).count()
    assert(bad == 0, "bigram positions dropped or double-counted")
    assert(lm.count() == words.count(), "docs lost between tokenize and score")
  }

  test("entropy: bounded by ln(types), zero iff single-type, norm in (0, 1]") {
    val e = TextAnalysis.entropy(spark, sfDir)
    assert(e.count() > 0)
    // 0 ≤ H ≤ ln(n_types) (+ quantization slack); norm normalizes to ≤ 1
    assert(e.filter(col("entropy") < -1e-4).count() == 0, "negative entropy")
    assert(
      e.filter(col("n_types") > 1 &&
        (col("norm_entropy") <= 0 || col("norm_entropy") > 1.0001)).count() == 0,
      "norm_entropy out of (0, 1]")
    assert(e.filter(col("n_types") === 1 && col("entropy") =!= 0.0).count() == 0,
      "single-type doc must have zero entropy")
    // evenness: entropy of a doc is below that of a same-length doc with
    // more types — weak monotonicity via the corpus-wide correlation of
    // norm_entropy with TTR is overfit; instead pin the exact identity
    // H == ln(n_tokens) for an all-distinct doc (norm == ln n / ln types = 1)
    val allDistinct = e.filter(col("n_types") === col("n_tokens"))
    if (allDistinct.count() > 0)
      assert(allDistinct.filter(abs(col("norm_entropy") - 1.0) > 1e-3).count() == 0,
        "all-distinct doc should have norm_entropy == 1")
  }

  test("entropy property: matches a direct reference on generated skewed documents") {
    val dir = java.nio.file.Files.createTempDirectory("graft_entropy").toString
    try {
      import spark.implicits._
      val rnd = new scala.util.Random(13)
      val docs = (1L to 60L).map { i =>
        val vocab = (1 to (1 + rnd.nextInt(8))).map(v => s"t$v")
        // Zipf-ish skew: low vocab indexes repeat much more often
        val words = Seq.fill(1 + rnd.nextInt(50))(
          vocab(math.min(vocab.size - 1, (math.abs(rnd.nextGaussian()) * vocab.size / 2).toInt)))
        (i, words.mkString(" "), "en", "srcX", words.mkString(" ").length.toLong)
      }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = TextAnalysis.entropy(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
      def ref(words: Seq[String]): Double = {
        val counts = words.groupBy(identity).map(_._2.size.toLong)
        val n = counts.sum
        def mn(x: Long): Long = math.round(math.log(x.toDouble) * 1e6)
        val h = (n * mn(n) - counts.map(c => c * mn(c)).sum).toDouble / (n * 1e6)
        BigDecimal(h).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      for ((i, text, _, _, _) <- docs) {
        val expected = ref(text.split(" ").toSeq)
        assert(got(i) == expected, s"doc $i: got ${got(i)}, reference $expected")
      }
    } finally graft.operators.Dedup.clearSharedCache()
  }

  test("rolling median: exact lower median of each trailing window, robust to a spike") {
    val rm = Windows.rollingMedian(spark, sfDir).collect()
    val byUser = rm.groupBy(_.getLong(1))
    for ((_, rows) <- byUser.take(20)) {
      val ordered = rows.sortBy(r => (r.getLong(2), r.getLong(0)))
      val cents = ordered.map(r => math.round(r.getDouble(3) * 100.0))
      for ((r, idx) <- ordered.zipWithIndex) {
        val win = cents.slice(math.max(0, idx - 20), idx + 1).sorted
        val expect = win((win.length + 1) / 2 - 1) / 100.0
        assert(math.abs(r.getDouble(4) - expect) < 1e-9,
          s"window median mismatch at row $idx of user ${r.getLong(1)}")
      }
    }
    // NULL value = no observation, identically in both engines: the NULL
    // row still appears, its median drawn from the non-null neighbors
    val dir = java.nio.file.Files.createTempDirectory("graft_rm_null").toString
    import spark.implicits._
    val ns = 1000000000L
    Seq(
      (1L, 3600L * ns, 9L, "view", Option(1.0), ""),
      (2L, 7200L * ns, 9L, "view", Option.empty[Double], ""),
      (3L, 10800L * ns, 9L, "view", Option(3.0), ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Windows.rollingMedian(spark, dir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(out(1L).contains(1.0) && out(2L).contains(1.0) && out(3L).contains(1.0),
      s"NULL-value window handling diverged: $out") // lower median of {1.0, 3.0} = 1.0
  }

  test("conversion_time bands partition the converted-user set exactly") {
    val bands = Windows.conversionTime(spark, sfDir).collect()
    assert(bands.nonEmpty)
    for (r <- bands) {
      assert(r.getLong(2) > 0, "empty band emitted")
      val (avg, mn, mx) = (r.getDouble(3), r.getLong(4), r.getLong(5))
      assert(mn <= avg + 0.005 && avg <= mx + 0.005, s"band stats out of order: $r")
    }
    // the bands' user counts sum to an independently computed converted set
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    val v = e
      .filter(col("event_type") === "view")
      .groupBy("user_id")
      .agg(min(col("ts")).as("vt"))
    val converted = e
      .filter(col("event_type") === "purchase")
      .join(v, "user_id")
      .filter(col("ts") >= col("vt"))
      .select("user_id")
      .distinct()
      .count()
    assert(bands.map(_.getLong(2)).sum == converted,
      s"bands cover ${bands.map(_.getLong(2)).sum}, expected $converted converters")
  }

  test("emb_pca_top: loadings match an independent BigInt power-iteration replay") {
    val got = Similarity.pcaTop(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 64, s"${got.length} dims")
    // independent replay from the raw parquet: same gate/quantize, same
    // scatter matrix, same three renormalized rounds
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .flatMap { r =>
        Option(r.getAs[scala.collection.Seq[Float]]("embedding")).collect {
          case e if e.length == 64 && e.forall(x => math.abs(x) <= 10000.0f) =>
            e.map(x => BigInt(math.floor(x.toDouble * 1000).toLong)).toArray
        }
      }
      .filter(q => q.map(x => x * x).sum > 0)
    val n = BigInt(vecs.length)
    val g = Array.tabulate(64, 64)((i, j) => vecs.map(q => q(i) * q(j)).sum)
    val sv = Array.tabulate(64)(i => vecs.map(_(i)).sum)
    val m = Array.tabulate(64, 64)((i, j) => n * g(i)(j) - sv(i) * sv(j))
    var v = Array.tabulate(64)(i => BigInt(i + 1))
    for (_ <- 1 to 3) {
      val w = Array.tabulate(64)(i => (0 until 64).map(j => m(i)(j) * v(j)).sum)
      val mx = w.map(_.abs).max
      assert(mx != 0, "fixture is degenerate — replay vacuous")
      v = w.map(x => BigInt(x.signum) * ((x.abs * 1000000) / mx))
    }
    val num = (for (i <- 0 until 64; j <- 0 until 64) yield v(i) * m(i)(j) * v(j)).sum
    val den = v.map(x => x * x).sum
    val tr = (0 until 64).map(i => m(i)(i)).sum
    val share = (((num / den) * 2000000 + tr) / (tr * 2)).toDouble / 1000000.0
    for ((gi, i) <- got.zipWithIndex) {
      assert(gi._1 == i.toLong)
      assert(gi._2 == v(i).toLong, s"loading drift at dim $i: ${gi._2} vs ${v(i)}")
      assert(gi._3 == share, s"var_share drift: ${gi._3} vs $share")
    }
    // invariants: renormalization pins max |loading| at exactly 1e6, the
    // Rayleigh share of the top component is a positive fraction
    assert(got.map(x => math.abs(x._2)).max == 1000000L, "renormalization drifted")
    assert(share > 0.0 && share <= 1.0, s"var_share out of range: $share")
  }

  test("emb_project2d: projections match the replay's deflated top-2 directions") {
    val got = Similarity.project2d(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.nonEmpty)
    // replay: same gate/quantize, same scatter matrix and rounds as the
    // pca test, plus the integer Gram-Schmidt deflation
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .flatMap { r =>
        Option(r.getAs[scala.collection.Seq[Float]]("embedding")).collect {
          case e if e.length == 64 && e.forall(x => math.abs(x) <= 10000.0f) =>
            r.getAs[Long]("vec_id") ->
              e.map(x => BigInt(math.floor(x.toDouble * 1000).toLong)).toArray
        }
      }
      .filter { case (_, q) => q.map(x => x * x).sum > 0 }
    val qs = vecs.map(_._2)
    val n = BigInt(qs.length)
    val g = Array.tabulate(64, 64)((i, j) => qs.map(q => q(i) * q(j)).sum)
    val sv = Array.tabulate(64)(i => qs.map(_(i)).sum)
    val m = Array.tabulate(64, 64)((i, j) => n * g(i)(j) - sv(i) * sv(j))
    def mv(v: Array[BigInt]) = Array.tabulate(64)(i => (0 until 64).map(j => m(i)(j) * v(j)).sum)
    def rn(w: Array[BigInt]) = {
      val mx = w.map(_.abs).max
      assert(mx != 0, "replay degenerate — fixture vacuous")
      w.map(x => BigInt(x.signum) * ((x.abs * 1000000) / mx))
    }
    var v1 = Array.tabulate(64)(i => BigInt(i + 1))
    for (_ <- 1 to 3) v1 = rn(mv(v1))
    val den1 = v1.map(x => x * x).sum
    var v2 = Array.tabulate(64)(i => BigInt(i + 1))
    for (_ <- 1 to 3) {
      val wt = rn(mv(v2))
      val d = v1.zip(wt).map { case (a, b) => a * b }.sum
      v2 = rn(wt.zip(v1).map { case (w, a) => w * den1 - a * d })
    }
    assert(got.size == vecs.length, "vector coverage diverges")
    for ((id, q) <- vecs) {
      val x = q.zip(v1).map { case (a, b) => a * b }.sum.toLong
      val y = q.zip(v2).map { case (a, b) => a * b }.sum.toLong
      assert(got(id) == ((x, y)), s"projection drift for vec $id")
    }
    // the deflated direction is near-orthogonal to the top one (exact
    // Gram-Schmidt, then one truncating renormalization: residual below
    // 1e-3 of the norms) and genuinely distinct
    val dot12 = v1.zip(v2).map { case (a, b) => a * b }.sum.abs
    assert(dot12 * 1000 < den1, s"v2 not orthogonalized: $dot12 vs $den1")
    assert(got.values.map(_._2).toSet.size > 1, "y axis is constant — deflation vacuous")
  }

  test("emb_project2d: a rank-1 cloud projects x and NULLs y") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_p2d").toString
    // vectors on one line through the origin-offset mean: qv = k * e1
    // pattern via distinct scalings of a single direction
    val base = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    Seq(1.0f, 2.0f, 3.0f, 4.0f).zipWithIndex
      .map { case (k, i) => (i.toLong, base.map(_ * k).toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.project2d(spark, dir).collect()
      .map(r => (r.getLong(0), r.isNullAt(2), r.isNullAt(3)))
    assert(got.length == 4)
    assert(got.forall(r => !r._2), "x must be defined for a rank-1 cloud")
    assert(got.forall(r => r._3), "y must be NULL for a rank-1 cloud")
  }

  test("emb_pca_top: a degenerate cloud (all vectors identical) yields NULL loadings") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pca").toString
    val e = Seq.fill(3)(Array.fill(64)(1.5f))
    e.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.pcaTop(spark, dir).collect()
    assert(got.length == 64)
    assert(got.forall(r => r.isNullAt(1) && r.isNullAt(2)), "degenerate cloud must be NULL")
  }

  test("nn_descent: proposals match a plain-Scala replay of the sample kNN graph") {
    val got = Similarity.nnDescent(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    // plain-Scala reference: same quantization (floor(x*1000)), same
    // sample (%100), exact long dots, the same double cosine expression
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .flatMap { r =>
        val id = r.getAs[Long]("vec_id")
        Option(r.getAs[scala.collection.Seq[Float]]("embedding")).collect {
          case e if id % 100 == 0 && e.length == 64 && e.forall(x => math.abs(x) <= 10000.0f) =>
            id -> e.map(x => math.floor(x.toDouble * 1000).toLong).toArray
        }
      }
      .filter { case (_, q) => q.map(x => BigInt(x) * x).sum > 0 }
      .toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Long, na: Long, nb: Long): Double =
      a.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    val norm = vecs.map { case (id, q) => id -> dot(q, q) }
    val ids = vecs.keys.toSeq.sorted
    val knn: Map[Long, Seq[(Long, Double)]] = ids.map { q =>
      q -> ids.filter(_ != q)
        .map(c => c -> cos(dot(vecs(q), vecs(c)), norm(c), norm(q)))
        .sortBy { case (c, s) => (-s, c) }
        .take(3)
    }.toMap
    val sym = knn.toSeq.flatMap { case (q, ns) => ns.flatMap(n => Seq(q -> n._1, n._1 -> q)) }.distinct
    val nbr = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val worst = knn.map { case (q, ns) => q -> ns.map(_._2).min }
    val nodes = nbr.keys.toSeq.sorted
    val expected = (for {
      a <- nodes; b <- nodes
      if a < b && !nbr(a).contains(b)
      cn = (nbr(a) & nbr(b)).size
      if cn > 0
    } yield {
      val rescored = cos(dot(vecs(a), vecs(b)), norm(a), norm(b))
      val r4 = BigDecimal.valueOf(rescored).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      ((a, b, cn.toLong, r4, if (rescored > worst(a) || rescored > worst(b)) 1 else 0), rescored)
    }).sortBy { case ((a, b, _, _, _), raw) => (-raw, a, b) }.take(20).map(_._1)
    assert(got.toSeq == expected, s"nn_descent drifted:\n got ${got.toSeq}\n exp $expected")
    assert(got.nonEmpty, "fixture produced no proposals — test is vacuous")
  }

  test("ann_chunk_topk matches a driver-side brute-force max-pool rollup") {
    val got = Similarity.annChunk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getInt(4)))
    // brute-force reference: chunk → md5-byte embedding → cosine →
    // max-pool per doc → top 3, all in plain Scala
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).filter(_._2 != null)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val chunks = docs.flatMap { case (id, t) =>
      (1 to t.length by 150).map { off =>
        val m = md5hex(t.substring(off - 1, math.min(t.length, off - 1 + 200)))
        val v = Array.tabulate(16)(j => java.lang.Long.parseLong(m.substring(2 * j, 2 * j + 2), 16) - 120L)
        (id, (off - 1) / 150, v, v.map(x => x * x).sum)
      }.filter(_._4 > 0)
    }
    val queries = chunks.filter(c => c._1 % 100 == 0 && c._2 == 0)
    val expected = queries.flatMap { case (qd, _, qv, qn) =>
      chunks.filter(_._1 != qd)
        .map { case (d, _, v, n) =>
          (d, qv.zip(v).map { case (a, b) => a * b }.sum / (math.sqrt(qn) * math.sqrt(n)))
        }
        .groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).max, xs.length.toLong) }.toSeq
        .sortBy { case (d, c, _) => (-c, d) }.take(3).zipWithIndex
        .map { case ((d, c, nc), i) =>
          (qd, d, BigDecimal.valueOf(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, nc, i + 1) }
    }.sortBy(t => (t._1, t._5))
    assert(got.nonEmpty, "no retrieval rows — fixture vacuous")
    assert(got.toSeq == expected.toSeq, s"chunk retrieval drifted:\n got ${got.toSeq}\n exp ${expected.toSeq}")
  }

  test("ann_chunk_lsh scores a subset of the exact anchor's space, identically") {
    val brute = Similarity.annChunk(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getInt(4)))).toMap
    val lsh = Similarity.annChunkLsh(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getLong(3), r.getInt(4))))
    assert(lsh.nonEmpty, "no lsh retrieval rows — fixture vacuous")
    // same scoring: any (query, doc) surfaced by BOTH paths whose lsh
    // candidate set contained the doc's best chunk must agree on cos_sim
    // ... and never EXCEED it (lsh max-pools over a candidate subset)
    lsh.foreach { case ((q, d), (cos, _, _)) =>
      brute.get((q, d)).foreach { case (bcos, _) =>
        assert(cos <= bcos + 1e-9, s"lsh cos $cos exceeds exact $bcos for ($q, $d)")
      }
    }
    // bucketed recall against the exact top-3: the 6-table 4-bit index
    // must recover a solid share (the doc-grain LSH floor argument)
    val hits = lsh.count { case (k, _) => brute.contains(k) }
    assert(hits * 10 >= brute.size * 3,
      s"lsh chunk recall collapsed: $hits of ${brute.size} exact pairs recovered")
    // rk sanity and packed-id derivation
    assert(lsh.forall { case ((q, d), (_, nc, rk)) => rk >= 1 && rk <= 3 && nc >= 1 && q != d })
  }

  test("quality model separates heuristic-fooling junk that text_quality admits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nbq").toString
    // clean English: stopword-rich, repeated words (TTR well below 1),
    // n_chars inside the [100, 2000] heuristic bonus band
    val clean = (1 to 30).map { i =>
      (i.toLong,
        "the cat sat of the mat and the dog ran a mile of joy the end is " +
          s"near and all of it was good news for the town of number$i people")
    }
    // adversarial junk: German word salad with ALL-DISTINCT tokens, so the
    // TTR+length heuristic scores it 1.0 (admitted) while the words are
    // pure reject-class evidence for the trained model
    val junk = (31 to 40).map { i =>
      (i.toLong,
        "der und das haus baum fluss berg stadt wald feld wiese himmel " +
          s"wolke regen schnee sonne mond stern nacht morgen abend$i")
    }
    (clean ++ junk).toDF("doc_id", "text")
      .withColumn("lang", lit("xx"))
      .withColumn("source", lit("fix"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val heur = TextAnalysis.quality(spark, dir)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every junk doc FOOLS the heuristic (score >= the 0.5 curation bar)
    junk.foreach { case (id, _) =>
      assert(heur(id) >= 0.5, s"junk doc $id heuristic=${heur(id)} — fixture not adversarial")
    }
    val model = TextAnalysis.qualityModel(spark, dir)
      .select("doc_id", "nb_score", "pred_keep").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val (cleanS, junkS) = model.partition(_._1 <= 30)
    // the trained model separates with margin: every clean doc above
    // every junk doc, and the NB decision rejects all junk / keeps all clean
    assert(cleanS.map(_._2).min > junkS.map(_._2).max,
      s"no margin: clean min ${cleanS.map(_._2).min} vs junk max ${junkS.map(_._2).max}")
    assert(cleanS.forall(_._3 == 1L) && junkS.forall(_._3 == 0L),
      s"NB decision drifted: ${model.toSeq.sortBy(_._1)}")
    // trained artifact: one bounded self-contained table — prior row
    // present, every bucket row inside the hashed feature space
    val wt = TextAnalysis.qualityTrain(spark, dir).collect()
    assert(wt.count(_.getLong(0) == -1L) == 1, "exactly one prior row")
    assert(wt.forall(r => r.getLong(0) >= -1L && r.getLong(0) < 4096L))
    assert(wt.length <= 4097, s"weight table must stay broadcastable: ${wt.length}")
    // the in-engine evaluation census agrees: perfect train-set fit on
    // the planted fixture (30 keeps, 10 rejects, no confusion)
    val ev = TextAnalysis.qualityEval(spark, dir).collect()(0)
    assert(
      (ev.getLong(0), ev.getLong(1), ev.getLong(2), ev.getLong(3), ev.getLong(4)) ==
        ((40L, 30L, 0L, 0L, 10L)),
      s"confusion census drifted: $ev")
    assert(ev.getLong(5) == 1000000L && ev.getLong(6) == 1000000L && ev.getLong(7) == 1000000L)
    // held-out generalization on the fixture: the word-level signal is
    // shared across docs, so the train-split model confuses NOTHING on
    // the unseen val split (which classes land in val is split-dependent
    // — the no-confusion claim is the split-independent invariant)
    val ho = TextAnalysis.qualityHoldout(spark, dir).collect()(0)
    assert(ho.getLong(2) + ho.getLong(5) == ho.getLong(1),
      s"held-out confusion on planted fixture: $ho") // tp + tn == n_val
    assert(ho.getLong(3) == 0L && ho.getLong(4) == 0L, s"fp/fn nonzero: $ho")
    assert(ho.getLong(0) + ho.getLong(1) <= 40L, s"split domains overlap: $ho")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("dsir importance weighting ranks target-like docs where the NB policy is indifferent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir").toString
    // one DOMAIN split that the curation policy cannot see: every doc is
    // the same stopword-rich English shape (same TTR band, same length
    // band, same language), so the NB policy classifier lands them all in
    // ONE class — only the domain vocabulary differs
    def chem(i: Long, src: String) = (i, src,
      "the acid and the salt of the flask did mix in the lab and the gas rose " +
        s"to the top of the tube while the heat of the flame held it there sample$i")
    def generic(i: Long) = (i, "src1",
      "the cat sat on the mat and the dog ran to the park while the bird flew " +
        s"over the town and the crowd of the fair cheered it on and on game$i")
    val target = (1L to 10L).map(chem(_, "src0"))
    // target-LIKE docs planted in a NON-target source: DSIR must rank
    // them by similarity to the target distribution, not by source label
    val planted = (11L to 13L).map(chem(_, "src1"))
    val gen = (14L to 38L).map(generic)
    (target ++ planted ++ gen).toDF("doc_id", "source", "text")
      .withColumn("lang", lit("xx"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // NB indifference: one policy class for the whole fixture
    val keeps = TextAnalysis.qualityModel(spark, dir)
      .select("pred_keep").distinct().collect().map(_.getLong(0)).toSet
    assert(keeps.size == 1, s"fixture must be NB-indifferent, got classes $keeps")
    val d = TextAnalysis.dsir(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(3))
      .toMap
    assert(d.size == 38, s"dsir domain drifted: ${d.size} docs")
    val genScores = gen.map(g => d(g._1))
    // every target-sample doc AND every planted target-like doc outranks
    // every corpus-typical doc — the importance-resampling ordering
    (target ++ planted).foreach { case (id, _, _) =>
      assert(d(id) > genScores.max,
        s"doc $id (target-like, ${d(id)}) does not outrank generic max ${genScores.max}")
    }
    // corpus-typical docs sit below zero mean-LLR (their mass is closer
    // to the corpus model than the target model)
    assert(genScores.max < 0.0, s"generic docs should score negative: ${genScores.max}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("langid model: full driver replay of features, fit, and argmax apply") {
    // the r16 oracle-discipline pin for the trained language ID: an
    // independent JVM recomputation of the WHOLE chain — codepoint
    // trigrams, md5-prefix buckets, heuristic labels, dense multiclass
    // NB fit in micro-nats, (score DESC, lang ASC) argmax — must agree
    // with the engine row for row, score for score
    val texts = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getString(1))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucketOf(g: String): Long = java.lang.Long.parseLong(md5hex(g).substring(0, 3), 16)
    // codepoint trigrams (Spark substring/length are codepoint-based)
    def cps(t: String): Array[String] = {
      val arr = t.codePoints().toArray
      (0 to arr.length - 3).map(i => new String(arr, i, 3)).toArray
    }
    val feats: Map[Long, Map[Long, Long]] = texts
      .filter(_._2.codePoints().count() >= 3)
      .map { case (id, t) =>
        id -> cps(t).groupBy(bucketOf).map { case (b, gs) => b -> gs.length.toLong }
      }.toMap
    def occ(padded: String, pat: String): Long =
      ((padded.length - padded.replace(pat, "").length) / pat.length).toLong
    def heuristic(t: String): String = {
      val p = " " + t + " "
      def hits(ws: Seq[String]) = ws.map(w => occ(p, s" $w ")).sum
      val (en, de, es, fr) = (
        hits(Seq("the", "a", "of")), hits(Seq("der", "und", "das")),
        hits(Seq("el", "los", "que")), hits(Seq("le", "les", "est")))
      if (en >= Seq(de, es, fr).max) "en"
      else if (de >= Seq(es, fr).max) "de"
      else if (es >= fr) "es" else "fr"
    }
    val labels: Map[Long, String] =
      texts.filter(p => feats.contains(p._1)).map(p => p._1 -> heuristic(p._2)).toMap
    val langs = Seq("en", "de", "es", "fr")
    def lnMicro(num: Long, den: Long): Long =
      BigDecimal(math.log(num.toDouble / den.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val counts: Map[(String, Long), Long] = feats.toSeq
      .flatMap { case (id, bs) => bs.map { case (b, o) => (labels(id), b) -> o } }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val tots = langs.map(l => l -> counts.collect { case ((`l`, _), c) => c }.sum).toMap
    val buckets = feats.values.flatMap(_.keys).toSet
    val w: Map[(String, Long), Long] = (for (l <- langs; b <- buckets) yield
      (l, b) -> lnMicro(counts.getOrElse((l, b), 0L) + 1, tots(l) + 4096L)).toMap
    val nd = langs.map(l => l -> labels.values.count(_ == l).toLong).toMap
    val prior = langs.map(l => l -> lnMicro(nd(l) + 1, labels.size.toLong + 4)).toMap
    val expect: Map[Long, (String, Long)] = feats.map { case (id, bs) =>
      val scored = langs.map { l =>
        l -> (prior(l) + bs.map { case (b, o) => o * w((l, b)) }.sum)
      }
      val best = scored.minBy { case (l, sc) => (-sc, l) }
      id -> (best._1, best._2)
    }
    val got = graft.operators.TextAnalysis.lidModel(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got.keySet == expect.keySet,
      s"domain drifted: ${(got.keySet diff expect.keySet).take(3)} / ${(expect.keySet diff got.keySet).take(3)}")
    for ((id, e) <- expect)
      assert(got(id) == e, s"doc $id: engine ${got(id)} != replayed $e")
    // trained artifact shape: dense per observed bucket × 4 classes + 4 priors
    val wt = graft.operators.TextAnalysis.lidTrain(spark, sfDir).collect()
    assert(wt.count(_.getLong(1) == -1L) == 4, "one prior row per class")
    assert(wt.length == 4 * buckets.size + 4, s"weight table not dense: ${wt.length}")
  }

  test("langid model calls stopword-free morphology the heuristic defaults to 'en'") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lid").toString
    // training mass: stopword-carrying English and German docs (the
    // heuristic labels them correctly — these teach the model the
    // trigram morphology of each class)
    val en = (1 to 20).map(i =>
      (i.toLong, "the cat sat of the mat and the dog ran a mile of joy " +
        s"near the town with good cheer and plenty of light number$i"))
    val de = (21 to 40).map(i =>
      (i.toLong, "der hund lief und das haus stand und der baum wuchs " +
        s"und das kind sang und der wald rauschte leise weiter nummer$i"))
    // probe: German MORPHOLOGY with the stopword markers removed — zero
    // hits for every class, so the heuristic's tie rule defaults to 'en'
    val probe = (41 to 44).map(i =>
      (i.toLong, "hund lief haus stand baum wuchs kind sang wald rauschte " +
        s"leise weiter schnell dunkel nummer$i"))
    (en ++ de ++ probe).toDF("doc_id", "text")
      .withColumn("lang", lit("xx"))
      .withColumn("source", lit("fix"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val heur = graft.operators.TextAnalysis.langid(spark, dir)
      .select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    probe.foreach { case (id, _) =>
      assert(heur(id) == "en", s"probe $id heuristic=${heur(id)} — fixture not stopword-free")
    }
    val model = graft.operators.TextAnalysis.lidModel(spark, dir)
      .select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    probe.foreach { case (id, _) =>
      assert(model(id) == "de",
        s"probe $id: trained model says ${model(id)}, trigram morphology is German")
    }
    // and the model agrees with the heuristic where the heuristic has
    // real evidence (the training mass itself)
    (en ++ de).foreach { case (id, _) =>
      assert(model(id) == heur(id), s"doc $id: model ${model(id)} != heuristic ${heur(id)}")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("dsir + langid serve from the quality store: hash-identical, no corpus re-scan warm") {
    import graft.operators.TextAnalysis
    // store-served rows ARE the scan-time rows (the store build
    // materializes the same plan; parquet round-trips longs and
    // once-computed doubles losslessly)
    val stored = TextAnalysis.dsir(spark, sfDir).collect().toSet
    val scan = TextAnalysis.dsirScan(spark, sfDir).collect().toSet
    assert(stored == scan, s"dsir store round-trip drifted (${stored.size} vs ${scan.size})")
    val lidStored = TextAnalysis.lidModel(spark, sfDir).collect().toSet
    val lidScan = TextAnalysis.lidModelScan(spark, sfDir).collect().toSet
    assert(lidStored == lidScan, "lid store round-trip drifted")
    // warm path: the registry frames read the store bodies, never the
    // documents table (the r15 text_dsir bench-carrier fix)
    for (df <- Seq(TextAnalysis.dsir(spark, sfDir), TextAnalysis.lidModel(spark, sfDir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"),
        s"warm quality-store path re-scans the corpus:\n$plan")
    }
  }

  test("unigram fit: engine output equals an independent driver reference, fit/apply consistent") {
    import graft.functions.UnigramIds
    // independent reference implementation of the WHOLE fit -- seed
    // counts, Viterbi E-steps (longest-achieving-piece backtrack),
    // prune, Laplace re-cost -- written from the algorithm statement,
    // not by calling the engine's code (the bpe parity discipline)
    val census = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .filter(org.apache.spark.sql.functions.length(col("w")) > 0)
      .groupBy("w").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    def refViterbi(w: String, cost: Map[String, Long]): Seq[String] = {
      val n = w.length // ascii fixture: chars == code points here
      val dp = new Array[Long](n + 1)
      for (k <- 1 to n) {
        dp(k) = (1 to math.min(4, k)).flatMap { p =>
          val piece = w.substring(k - p, k)
          cost.get(piece).orElse(if (p == 1) Some(UnigramIds.UnkCostMicro) else None)
            .map(dp(k - p) + _)
        }.min
      }
      var k = n
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (k > 0) {
        val p = (math.min(4, k) to 1 by -1).find { p =>
          val piece = w.substring(k - p, k)
          cost.get(piece).orElse(if (p == 1) Some(UnigramIds.UnkCostMicro) else None)
            .exists(dp(k - p) + _ == dp(k))
        }.get
        out.prepend(w.substring(k - p, k))
        k -= p
      }
      out.toSeq
    }
    val cnt = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, f) <- census; i <- 0 until w.length; l <- 1 to 4 if i + l <= w.length)
      cnt(w.substring(i, i + l)) = cnt.getOrElse(w.substring(i, i + l), 0L) + f
    val singles = cnt.filter(_._1.length == 1).toSeq
    val multis = cnt.filter(kv => kv._1.length >= 2 && kv._2 >= 2).toSeq
      .sortWith((a, b) => a._2 > b._2 ||
        (a._2 == b._2 && graft.operators.TextAnalysis.utf8Compare(a._1, b._1) < 0))
      .take(math.max(0, 512 - singles.size))
    val seed = singles ++ multis
    val total0 = seed.map(_._2).sum
    var cost: Map[String, Long] = seed.map { case (p2, c) =>
      p2 -> math.round(math.log(total0.toDouble / c.toDouble) * 1e6)
    }.toMap
    var uses: Map[String, Long] = Map.empty
    for (_ <- 1 to 2) {
      val u = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, f) <- census; p <- refViterbi(w, cost))
        u(p) = u.getOrElse(p, 0L) + f
      val kept = cost.keys.filter(p => p.length == 1 || u.getOrElse(p, 0L) >= 1).toSeq
      val den = kept.map(p => u.getOrElse(p, 0L)).sum + kept.size
      cost = kept.map(p => p ->
        math.round(math.log(den.toDouble / (u.getOrElse(p, 0L) + 1).toDouble) * 1e6)).toMap
      uses = kept.map(p => p -> u.getOrElse(p, 0L)).toMap
    }
    val expect = cost.keys.toSeq.sorted
      .map(p => (p, p.length.toLong, uses(p), cost(p))).toSet
    val got = graft.operators.TextAnalysis.unigramTrain(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect,
      s"unigram fit diverged: missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
    // APPLY consistency: the kernel's per-word segmentation under the
    // final table equals the reference Viterbi
    val ordered = cost.keys.toSeq.sorted
    val table = new UnigramIds.Table(ordered.toArray, ordered.map(cost).toArray)
    for ((w, _) <- census.take(200)) {
      val ks = UnigramIds.segmentPieces(w, table).toSeq
      assert(ks == refViterbi(w, cost), s"kernel segmentation diverged on '$w': $ks")
    }
  }
}

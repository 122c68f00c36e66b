package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling probe: how do the heavy document operators behave when the
  * corpus grows N×?
  *
  * Builds (once, reused across runs) a synthetic N× documents table from
  * an existing SF dir: N copies with offset doc_ids, each copy's text
  * passed through a distinct Caesar letter rotation so content is
  * DISTINCT across copies — per-copy token/gram statistics match the
  * source (same df distribution, same rarity band) while the global
  * distinct-gram count scales ~N×, which is what a real corpus does.
  * Plain duplication would instead multiply every gram's df by N and
  * empty the rarity band — a probe that flatters the pipeline.
  *
  * Times each probed operator's full result (`Bench.materialise`) on the
  * source (1×) and the synthetic (N×) table, min-of-2 per point, and
  * prints one JSON line of seconds + N×/1× ratios. A ratio ≈ N is linear
  * scaling; the interesting operators are the candidate-pair pipelines
  * whose naive formulations are quadratic.
  *
  * Caveats: factor is capped at 26 (only 26 distinct Caesar rotations),
  * and only lowercase a–z is rotated — digits/uppercase/punctuation stay
  * identical across copies. The driver-generated documents are lowercase
  * word soup, so the distinct-content premise holds there; a corpus with
  * heavy non-alpha content would need a different perturbation.
  *
  * Usage: `runMain graft.ScaleProbe [srcDir] [factor]` (defaults
  * /root/testdata/sf0.1, 10×). Not part of the driver contract — a
  * design-verification tool.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    // 26 distinct Caesar rotations exist; beyond that k % 26 wraps and
    // copies duplicate earlier ones exactly, silently breaking the
    // distinct-content premise the measurements rest on
    require(factor >= 1 && factor <= 26, s"factor must be in [1, 26], got $factor")
    val spark = GraftSession.forMain()

    // synthetic dir keyed by (source, factor): a marker-only scheme with
    // a shared dir would silently time data built from a DIFFERENT
    // source after an interleaved run against another corpus
    val srcTag = srcDir.replaceAll("[^a-zA-Z0-9.]", "_")
    val bigDir = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_scale_probe_${srcTag}_${factor}x").getPath
    val marker = new java.io.File(s"$bigDir/_built")
    // Copy-offset envelope guards: the N copies are keyed apart by
    // constant offsets, so a driver testdata drop whose ids outgrow an
    // offset would silently collide keys across copies (merging users /
    // docs and corrupting the per-key-work-preserved measurement). Fail
    // loudly instead, like the other driver-drift guards.
    def assertIdEnvelope(df: org.apache.spark.sql.DataFrame, idCol: String, offset: Long): Unit = {
      // cast + getAs[Number]: a physical-type drift (INT32 ids) or an
      // empty table must surface THIS guard's message, not a
      // ClassCast/NullPointer that buries the diagnosis
      Option(df.agg(max(col(idCol).cast("long"))).head.getAs[Number](0)).foreach { mx =>
        require(mx.longValue < offset,
          s"ScaleProbe: $idCol max $mx >= copy offset $offset — testdata drift; raise the offset")
      }
    }
    if (!marker.exists()) {
      val d = spark.read.parquet(s"$srcDir/documents.parquet")
      assertIdEnvelope(d, "doc_id", 100000000L)
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      val copies = (0 until factor).map { k =>
        val shifted = alpha.drop(k % 26) + alpha.take(k % 26)
        d.select(
          (col("doc_id") + lit(k.toLong * 100000000L)).as("doc_id"),
          translate(col("text"), alpha, shifted).as("text"),
          col("lang"),
          col("source"),
          col("n_chars"))
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$bigDir/documents.parquet")
      marker.getParentFile.mkdirs()
      marker.createNewFile()
    }
    // events-side synthesis (separate marker: dirs built by earlier
    // rounds carry only documents and must gain events without a
    // rebuild): N× USERS over the same time span — the realistic growth
    // axis for an event pipeline (more traffic, same retention window).
    // Per-user event counts and orderings are preserved verbatim, so a
    // user-partitioned operator's per-key work is constant and the
    // measurement isolates the key-count scaling.
    val evMarker = new java.io.File(s"$bigDir/_built_events")
    if (!evMarker.exists()) {
      val e = graft.sources.Tables.events(spark, srcDir)
      assertIdEnvelope(e, "event_id", 1000000000000L)
      assertIdEnvelope(e, "user_id", 100000000L)
      val evCopies = (0 until factor).map { k =>
        e.select(
          (col("event_id") + lit(k.toLong * 1000000000000L)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k.toLong * 100000000L)).as("user_id"),
          col("event_type"),
          col("value"),
          col("props"))
      }
      evCopies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$bigDir/events.parquet")
      evMarker.createNewFile()
    }
    // embeddings-side synthesis (third marker, same reasoning): N×
    // vectors, each copy's components ROTATED by k positions — the
    // Caesar move for vectors: norms and per-component distributions
    // are preserved (the validity gate admits exactly the same rows)
    // while copies decorrelate, so the near-dup rate stays the source's
    // instead of every vector gaining N-1 exact twins (which would
    // inflate the pair ops quadratically IN THE DATA and flatter
    // nothing). factor ≤ dim keeps rotations distinct.
    val embMarker = new java.io.File(s"$bigDir/_built_embeddings")
    if (!embMarker.exists()) {
      val em = spark.read.parquet(s"$srcDir/embeddings.parquet")
      assertIdEnvelope(em, "vec_id", 100000000L)
      // rotations are distinct only while the offset stays under the
      // vector width: factor > dim would wrap copies onto earlier ones
      // (exact duplicate vectors, inflating the near-dup pair probes this
      // data feeds) — fail loudly like the id-envelope guards
      val dim = graft.operators.Similarity.embDim(spark)
      require(factor <= dim,
        s"ScaleProbe: factor $factor > embedding dim $dim — component rotations would " +
          "wrap and duplicate copies exactly; lower the factor")
      val emCopies = (0 until factor).map { k =>
        // rotation guarded for short/empty vectors (slice with a negative
        // length is a runtime error): anything shorter than the offset is
        // gate-rejected downstream anyway, so it passes through unrotated
        em.select(
          (col("vec_id") + lit(k.toLong * 100000000L)).as("vec_id"),
          when(
            size(col("embedding")) >= k,
            concat(
              expr(s"slice(embedding, ${k + 1}, size(embedding) - $k)"),
              expr(s"slice(embedding, 1, $k)")))
            .otherwise(col("embedding"))
            .as("embedding"),
          col("label"))
      }
      emCopies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$bigDir/embeddings.parquet")
      embMarker.createNewFile()
    }

    // orders-side synthesis (fourth marker, same reasoning): N×
    // CUSTOMERS over the same order-date span — the cohort axis. Each
    // copy's per-customer order history is preserved verbatim, so
    // cohort membership per copy matches the source and the cohort ×
    // age cell GRID stays constant while every cell's membership and
    // sums grow N× — the probe reads whether the two bounded-output
    // aggregations and the join stay linear in the row count.
    val ordMarker = new java.io.File(s"$bigDir/_built_orders")
    if (!ordMarker.exists()) {
      val o = spark.read.parquet(s"$srcDir/orders.parquet")
      assertIdEnvelope(o, "o_orderkey", 1000000000000L)
      assertIdEnvelope(o, "o_custkey", 100000000L)
      val oCopies = (0 until factor).map { k =>
        o.select(
          (col("o_orderkey") + lit(k.toLong * 1000000000000L)).as("o_orderkey"),
          (col("o_custkey") + lit(k.toLong * 100000000L)).as("o_custkey"),
          col("o_orderstatus"),
          col("o_totalprice"),
          col("o_orderdate"),
          col("o_orderpriority"))
      }
      oCopies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$bigDir/orders.parquet")
      ordMarker.createNewFile()
    }

    // lineitem-side synthesis (fifth marker): N× FACT rows against a
    // CONSTANT catalog — the realistic fact-table growth axis (more
    // sales of the same parts by the same suppliers). Orderkeys offset
    // in lockstep with the orders synthesis so l_orderkey = o_orderkey
    // joins stay consistent; part/supplier/nation/region/customer copy
    // VERBATIM (dimensions don't grow 20× when facts do). Per-(supplier,
    // part) and per-part group COUNTS therefore stay constant while
    // every group's membership grows N× — exactly the shape that reads
    // whether a partial aggregate collapses map-side or ships N× rows.
    val liMarker = new java.io.File(s"$bigDir/_built_lineitem")
    if (!liMarker.exists()) {
      val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
      assertIdEnvelope(li, "l_orderkey", 1000000000000L)
      val liCopies = (0 until factor).map { k =>
        li.select(
          (col("l_orderkey") + lit(k.toLong * 1000000000000L)).as("l_orderkey"),
          col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      }
      liCopies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$bigDir/lineitem.parquet")
      for (dim <- Seq("part", "supplier", "nation", "region"))
        spark.read.parquet(s"$srcDir/$dim.parquet")
          .write.mode("overwrite").parquet(s"$bigDir/$dim.parquet")
      // customer scales IN LOCKSTEP with the orders synthesis (same
      // k·10⁸ custkey offset): the orders copies reference offset
      // custkeys, so a verbatim customer copy would make every
      // orders ⋈ customer probe silently measure a 1/N-match join
      // instead of N× growth
      val cu = spark.read.parquet(s"$srcDir/customer.parquet")
      assertIdEnvelope(cu, "c_custkey", 100000000L)
      (0 until factor)
        .map(k =>
          cu.select(
            (col("c_custkey") + lit(k.toLong * 100000000L)).as("c_custkey"),
            col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$bigDir/customer.parquet")
      liMarker.createNewFile()
    }

    import graft.operators.{CorpusOps, Dedup, Graph, TextAnalysis, Training}
    val probes: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      "dedup_exact" -> (Dedup.exact _),
      "text_quality" -> (TextAnalysis.quality _),
      "text_lm_score" -> (TextAnalysis.lmScore _),
      "text_repetition" -> (TextAnalysis.repetition _),
      "dedup_ngram_jaccard" -> (Dedup.ngramJaccard _),
      "corpus_dedup_ng" -> (Dedup.corpusDedupNg _),
      "corpus_curate" -> (CorpusOps.curate _),
      // round-7 wave 4/5: the hot-gram excision (its census + positional
      // join are the quadratic-risk shapes) and the near-dup provenance
      // rollup (rides the pair frame; measures the frame + two id joins)
      "text_boilerplate" -> (CorpusOps.boilerplate _),
      "source_overlap" -> (Dedup.sourceOverlap _),
      // round-7 wave 6: the JS-divergence census (one token shuffle +
      // Zipfian post-aggregation join — should scale like lm_score)
      "source_divergence" -> (CorpusOps.sourceDivergence _),
      // round-7 wave 7: the vocabulary-growth census (distinct
      // (decile, tok) shuffle — the N× distinct-gram growth is exactly
      // what the Caesar rotation synthesizes) and BPE training (one
      // corpus-scan census; the M merge rounds act on the vocabulary
      // frame, so they should grow with |V|, not corpus size)
      "text_vocab_growth" -> (TextAnalysis.vocabGrowth _),
      "text_bpe_train" -> (TextAnalysis.bpeTrain _),
      // continuation wave: the graph family (cache cleared per timing, so
      // each point pays pair-frame build + |edges|-proportional iteration
      // — the honest end-to-end cost) and the tf-idf census (two
      // aggregations sharing one exchange; stop-word join skew to AQE)
      "graph_pagerank" -> (Graph.pagerank _),
      "graph_triangles" -> (Graph.triangles _),
      "text_tfidf" -> (TextAnalysis.tfidf _),
      // round-8 wave: sequence packing (the two-phase prefix sum — its
      // driver-side bucket-offset step is the scale-risk to watch) and
      // the first EVENT-side probes, exercised against the N×-user
      // synthesis: both are one user-partitioned exchange, so wall-clock
      // should track the row count, never the user count superlinearly
      "corpus_pack" -> (CorpusOps.corpusPack _),
      "win_paths" -> (graft.operators.Windows.paths _),
      "ts_twap" -> (graft.operators.Windows.twap _),
      // the trainable-artifact trio: tokenize is a narrow native map,
      // pack is explode + one seq shuffle over the two-phase prefix —
      // both should read linear with a visible fixed floor
      "text_tokenize_ids" -> (Training.tokenizeIds _),
      "corpus_pack_rows" -> (Training.packRows _),
      "train_pack_ids" -> (Training.packIds _),
      // similarity family (embeddings synthesis): PQ coding is a narrow
      // map + 128-row broadcast (expect linear); IVF near-dup pairing is
      // the cell-bounded quadratic-risk shape; LSH is bucket-bounded.
      // ann_brute/ann_pq are deliberately NOT probed: their driver
      // queries score |queries|×|corpus| with queries ∝ corpus — the
      // declared oracle-anchor / compose-with-cell-pruning exceptions.
      "emb_pq" -> (graft.operators.Similarity.embPq _),
      "dedup_embedding_ivf" -> (graft.operators.Similarity.ivfDedup _),
      "ann_lsh_topk" -> (graft.operators.Similarity.annLsh _),
      // round-10 wave: the exact span-dup census (per-copy span stats
      // preserved, global distinct-gram count ~N× — the Caesar premise
      // again; cache cleared per timing so each point pays the gram-frame
      // build, the honest cost) and the skew census on the N×-user events
      // synthesis (per-key work constant, key count N× — the probe reads
      // whether the count shuffle + 1-row broadcast-back stays linear).
      // Only the events key is probed: the synthetic dir carries no
      // lineitem/orders.
      "text_span_dup" -> (TextAnalysis.spanDup _),
      // the excision rides the same gram cache + its own regions cache
      // (both cleared per timing): the probe reads the positional scan +
      // islands pass + kept-text rebuild end to end
      "text_span_excise" -> (TextAnalysis.spanExcise _),
      "skew_probe_events" -> ((s: SparkSession, d: String) =>
        graft.operators.Analytics
          .keyProbe(graft.sources.Tables.events(s, d), "user_id", "events.user_id")),
      // round-11 wave: the bloom gate — NOTE what min-of-2 measures
      // here: the FIRST call builds the persistent BloomStore for the
      // dir, the second serves it warm, so the published number is the
      // WARM gate+verify path (the steady per-crawl cost); the build
      // scan amortizes across the store's lifetime and is deliberately
      // excluded, like the other store-backed probes. Semantic dedup
      // (within-cell quadratic risk, the
      // ivfDedup shape one level up — assignments cache cleared per
      // timing), the chunker (pure scan-side explode, the floor-reader),
      // and the fertility census (one map-side-combined shuffle)
      "dedup_incremental_bloom" -> ((s: SparkSession, d: String) =>
        CorpusOps.dedupIncrementalBloom(s, d)),
      "dedup_semantic" -> (graft.operators.Similarity.dedupSemantic _),
      "text_chunk" -> (TextAnalysis.chunk _),
      "text_fertility" -> (TextAnalysis.fertility _),
      // round-12 wave: the sufficient-statistic aggregates (trend: one
      // map-side-combined user shuffle, no sort — the floor-reader of
      // the family; changepoint: ONE user-partitioned sort), the first
      // orders-axis probe (cohort LTV: constant cell grid, N× members),
      // the gram first-occurrence census (novelty: min-agg on the gram
      // key — the same shuffle class as the pair pipelines without the
      // pair expansion), common-neighbor link prediction (wedge work
      // Σ deg² over the band-bounded pair graph, the triangles
      // argument), the funnel census (curate's plan + one bounded
      // groupBy — rides the same shared caches, cleared per timing),
      // and the scatter-matrix PCA (dim²-bounded shuffle: expect the
      // cleanest linearity of the wave). ann_nn_descent is deliberately
      // NOT probed: its |S|² sample graph is the declared bounded
      // anchor, the ann_brute exception.
      "ts_trend" -> (graft.operators.Windows.trend _),
      "ts_changepoint" -> (graft.operators.Windows.changepoint _),
      "win_cohort_ltv" -> (graft.operators.Windows.cohortLtv _),
      "text_novelty" -> (TextAnalysis.novelty _),
      "graph_link_predict" -> (Graph.linkPredict _),
      "corpus_funnel" -> (CorpusOps.funnel _),
      "emb_pca_top" -> (graft.operators.Similarity.pcaTop _),
      // autocorr: the changepoint sort + a wider map-side aggregate;
      // rfm: the melt ×3 + one measure-partitioned globalRank on the
      // N×-customer orders synthesis (three bucketed rank pipelines'
      // worth of work in one pass — the probe reads whether the bucket
      // machinery stays linear in the customer count)
      "ts_autocorr" -> (graft.operators.Windows.autocorr _),
      "win_rfm" -> (graft.operators.Windows.rfm _),
      // round-13 wave: the last two TPC-H shapes on the N×-fact /
      // constant-catalog lineitem synthesis — q20 (two stacked partial
      // aggregates over the date-windowed fact scan + the correlated
      // per-part threshold: group count constant, members N×) and q2
      // (per-(part, supplier) partial aggregate + struct-argmin: the
      // probe reads whether both collapse map-side or ship N× rows) —
      // and the ANN recall eval (four bounded-candidate probe pipelines
      // + the brute anchor over the N×-vector synthesis; caches cleared
      // per timing so each point pays its index builds, the honest cost)
      "q20_excess_shippers" -> (graft.operators.RelationalDeep.q20ExcessShippers _),
      "q2_min_price_supplier" -> (graft.operators.RelationalDeep.q2MinPriceSupplier _),
      "ann_recall" -> (graft.operators.Similarity.annRecall _),
      // fingerprint pairing (the rarePairCounts engine on ~1/4 the keys
      // of the ngram family — expect the ngram band) and the dedup
      // method eval (ngram + minhash + winnow pipelines end to end,
      // caches cleared per timing — the honest full cost of the
      // "should I switch methods" question)
      "dedup_winnow_pairs" -> (Dedup.winnowPairs _),
      "dedup_recall" -> (Dedup.dedupRecall _),
      // round-13 wave: the media-grain hash dedup (scan-shaped — real
      // container encode + decode per doc, then ONE map-side-combined
      // groupBy; should read ~linear), the trained-classifier FIT (two
      // token shuffles + a 4096-group rollup; the weight table is
      // corpus-size-independent) and the chunk-grain retrieval (chunk
      // explode ≈ 7× docs against a FIXED broadcast query set; the
      // rollup groupBy is (queries × docs)-bounded)
      "mm_dedup" -> (graft.operators.Multimodal.mediaDedup _),
      "text_quality_train" -> (TextAnalysis.qualityTrain _),
      "ann_chunk_topk" -> (graft.operators.Similarity.annChunk _),
      // round-13 wave 2: the bucketed chunk retrieval (collision-bounded
      // candidates — should grow slower than the exact anchor) and the
      // split-aware holdout (two fits + a scan-speed apply)
      "ann_chunk_lsh" -> (graft.operators.Similarity.annChunkLsh _),
      "text_quality_holdout" -> (TextAnalysis.qualityHoldout _),
      // round-14 wave: graph-ANN end to end (LSH-seeded graph build +
      // refinement + the 2-hop walk; caches cleared per timing so each
      // point pays the graph construction, the honest cost — expect
      // ~linear: every stage is a bounded-degree key-equality shuffle),
      // the DSIR fit+apply (two bounded rollups + a scan-speed broadcast
      // join — the weight table is corpus-size-independent) and the LSH
      // bucket census (bucket-domain-bounded groupBys)
      "ann_graph_topk" -> (graft.operators.Similarity.annGraph _),
      // scan-time plan, NOT the store-served registry query (r16: dsir
      // became store-backed; probing dsir() would time a slim parquet
      // read after the first once() builds the store — the lidModelScan
      // rule)
      "text_dsir" -> (TextAnalysis.dsirScan _),
      "skew_lsh_buckets" -> (graft.operators.Similarity.skewLshBuckets _),
      // later round-14 wave: the leak census (pair-frame-bounded joins —
      // answer grows with near-dup mass, the corpus_curate class) and
      // the score calibration (NB scan + the two-phase global decile)
      "split_leakage" -> (graft.operators.Dedup.splitLeakage _),
      "text_quality_calibration" -> (TextAnalysis.qualityCalibration _),
      // round-14 wave: the PROBE-IN-M for the BPE fit — M=64 instead of
      // the default 10; the in-memory incremental path must hold cluster
      // round-trips at 1 regardless of M (printed beside the timing),
      // and the 1×→N× ratio reads the word-census scan, the only
      // corpus-sized stage the fit has
      // round-15 wave: the clustered recall census (six frame-
      // parameterized pipelines over the in-query integer view — every
      // stage the uniform census probes, now under planted skew with
      // the split cap live), the perceptual media near-dup (batched
      // decode + 4-block banding join — the simhash class at the media
      // grain; output grows with duplicate mass) and the unigram
      // tokenizer family (fit = one census scan + driver EM rounds,
      // corpus-size-independent vocabulary; apply + the two-tokenizer
      // fertility rollup are narrow native maps)
      // scan-time pipelines, NOT the store-served registry query (r17:
      // the clustered census became graft_recall-backed; probing the
      // registry entry would time a slim parquet read — the dsirScan
      // rule)
      "ann_recall_clustered" -> (graft.operators.Similarity.annRecallClusteredScan _),
      "mm_near_dup" -> (graft.operators.Multimodal.nearDup _),
      "text_unigram_train" -> (TextAnalysis.unigramTrain _),
      "text_tokens_unigram" -> (TextAnalysis.tokensUnigram _),
      "text_fertility_tokenizers" -> (TextAnalysis.fertilityTokenizers _),
      "bpe_fit_m64" -> ((s: SparkSession, d: String) => {
        s.conf.set("spark.graft.text.bpeMerges", "64")
        try {
          val (df, rounds) = TextAnalysis.bpeTrainRounds(s, d)
          println(s"[scale-probe] bpe_fit_m64 dir=$d cluster_rounds=$rounds (M=64)")
          df
        } finally s.conf.unset("spark.graft.text.bpeMerges")
      }),
      // round-16 wave: the trained-langid scan-time fit+apply (one
      // trigram census shuffle with ≤ 4096-key buckets, a ≤ 4·4097-row
      // dense fit, scan-speed broadcast argmax — should read ~linear in
      // corpus characters; the registry query itself is store-served)
      "langid_model" -> (TextAnalysis.lidModelScan _),
      // round-17 wave: BM25 retrieval (two corpus scans + a 1-row
      // census broadcast — the text_search class, should read ~linear)
      // and the ER pair operator. er_pairs DISCLOSURE: the customer
      // synthesis copies NAMES verbatim across the N copies, so every
      // blocking key's df grows ×N and keys that sat inside the 2..20
      // band at 1× blow past it at 20× — the probe therefore reads the
      // DF-BAND GUARD doing its job (hot keys stop generating pairs;
      // candidate mass collapses instead of exploding), i.e. the
      // scale-safety claim, not linear same-answer growth (the
      // mm_near_dup synthesis-caveat class)
      "text_search_bm25" -> (TextAnalysis.searchBm25 _),
      "er_pairs" -> (Dedup.erPairs _))

    def time(dir: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      def once(): Double = {
        Dedup.clearSharedCache()
        val t0 = System.nanoTime()
        Bench.materialise(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }

    def dp(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // optional 3rd arg: comma-separated probe-name filter (fast iteration
    // on one wave; the Verify precedent). Unknown names FAIL LOUDLY — a
    // typo would otherwise probe nothing and write an empty results JSON
    // that reads as success
    val only = args.lift(2).map(_.split(',').toSet)
    only.foreach { names =>
      val unknown = names -- probes.map(_._1).toSet
      require(
        unknown.isEmpty,
        s"unknown probe name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
          s"known: ${probes.map(_._1).sorted.mkString(", ")}")
    }
    val results = probes
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val t1 = time(srcDir, fn)
        val tn = time(bigDir, fn)
        (name, t1, tn)
      }
    val json = results
      .map { case (n, t1, tn) =>
        s"""\"$n\":{\"t1\":${dp(t1)},\"tN\":${dp(tn)},\"ratio\":${dp(tn / math.max(t1, 1e-9))}}"""
      }
      .mkString("{\"factor\":" + factor + ",", ",", "}")
    println(json)
    spark.stop()
  }
}

package graft

import graft.operators.CorpusOps
import org.apache.spark.sql.functions._

class CorpusOpsSpec extends GraftSpecBase {

  test("all corpus-lifecycle queries run and return rows") {
    for ((name, fn) <- CorpusOps.queries)
      assert(fn(spark, sfDir).count() > 0, s"$name empty")
  }

  test("store_status: absent → present+fresh → stale, with footer-cheap body counts") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_store_status").toString
    val dir = s"$tmp/data"
    spark.read.parquet(s"$sfDir/documents.parquet").write.parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$sfDir/embeddings.parquet").write.parquet(s"$dir/embeddings.parquet")
    spark.conf.set("spark.graft.corpus.storeRoot", s"$tmp/stores")
    try {
      val s0 = CorpusOps.storeStatus(spark, dir).collect()
      assert(s0.length == 27, s"expected 27 store bodies, got ${s0.length}")
      assert(s0.forall(r => !r.getAs[Boolean]("present") && !r.getAs[Boolean]("fresh")),
        "nothing is built yet — all stores must report absent")
      graft.operators.TextIndex.build(
        spark, dir, graft.operators.TextIndex.defaultPath(spark, dir))
      graft.operators.CorpusProfile.build(
        spark, dir, graft.operators.CorpusProfile.defaultPath(spark, dir))
      graft.operators.GramIndex.build(spark, dir, CorpusOps.defaultIndexPath(spark, dir))
      graft.operators.VectorIndex.build(
        spark, dir, graft.operators.VectorIndex.defaultPath(spark, dir))
      graft.operators.BloomStore.build(spark, dir, CorpusOps.defaultBloomPath(spark, dir))
      graft.operators.TextAnalysis.buildQualityStore(spark, dir)
      graft.operators.Similarity.buildRecallStore(spark, dir)
      val s1 = CorpusOps.storeStatus(spark, dir).collect()
      assert(s1.forall(r => r.getAs[Boolean]("present") && r.getAs[Boolean]("fresh")),
        s"freshly built stores must report fresh: ${s1.mkString(";")}")
      // the bloom body is raw filter bytes, not parquet: n_rows is None
      // by construction; every parquet body must count positive
      assert(s1.filter(_.getString(0) != "bloom_store").forall(r => r.getAs[Long]("n_rows") > 0),
        "body counts must be positive")
      assert(s1.filter(_.getString(0) == "bloom_store").forall(_.isNullAt(6)),
        "bloom body n_rows must be None (no parquet footers)")
      assert(s1.forall(r => r.getAs[String]("format_version") != null))
      // source drift (file listing changes) flips fresh off, present
      // stays — each store against ITS source table: documents drift
      // must NOT stale the embeddings-stamped vector store
      Files.writeString(Paths.get(s"$dir/documents.parquet/drift.txt"), "x")
      val s2 = CorpusOps.storeStatus(spark, dir).collect()
      assert(s2.forall(r => r.getAs[Boolean]("present")))
      assert(s2.forall(r =>
        r.getAs[Boolean]("fresh") == Set("vector_index", "recall_census")
          .contains(r.getAs[String]("store"))),
        s"documents drift must stale exactly the documents-stamped stores: ${s2.mkString(";")}")
      Files.writeString(Paths.get(s"$dir/embeddings.parquet/drift.txt"), "x")
      val s3 = CorpusOps.storeStatus(spark, dir).collect()
      assert(s3.forall(r => r.getAs[Boolean]("present") && !r.getAs[Boolean]("fresh")),
        s"stamp drift must flip fresh off while the store stays present: ${s3.mkString(";")}")
    } finally spark.conf.unset("spark.graft.corpus.storeRoot")
  }

  test("store_status: exclusion-built stores read stale to the census, like to their default consumer") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_store_excl").toString
    val dir = s"$tmp/data"
    spark.read.parquet(s"$sfDir/documents.parquet").write.parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$sfDir/embeddings.parquet").write.parquet(s"$dir/embeddings.parquet")
    spark.conf.set("spark.graft.corpus.storeRoot", s"$tmp/stores")
    try {
      // non-default batch-exclusion bindings: the default consumers
      // (text_search_idx / ann_ivf_idx) would rebuild these — the census
      // must agree and report them stale, not fresh (round-10 review)
      graft.operators.TextIndex.build(
        spark, dir, graft.operators.TextIndex.defaultPath(spark, dir), Some("src19"))
      graft.operators.VectorIndex.build(
        spark, dir, graft.operators.VectorIndex.defaultPath(spark, dir), Some(400L))
      val st = CorpusOps.storeStatus(spark, dir).collect()
        .filter(r => Set("text_index", "vector_index")(r.getString(0)))
      assert(st.nonEmpty)
      assert(st.forall(r => r.getAs[Boolean]("present") && !r.getAs[Boolean]("fresh")),
        s"census must report exclusion-built stores stale: ${st.mkString(";")}")
    } finally spark.conf.unset("spark.graft.corpus.storeRoot")
  }

  test("corpus_temperature_mix: exact apportionment, temperature genuinely flattens") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tmix").toString
    import spark.implicits._
    // heavily skewed sources: 64 / 16 / 4 / 1 docs (+ a NULL-source doc)
    val rows = (1 to 64).map(i => (i.toLong, s"head doc $i", Some("srcBig"))) ++
      (65 to 80).map(i => (i.toLong, s"mid doc $i", Some("srcMid"))) ++
      (81 to 84).map(i => (i.toLong, s"small doc $i", Some("srcSmall"))) ++
      Seq((85L, "tail doc", Some("srcTail")), (86L, "null source doc", None))
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CorpusOps.temperatureMix(spark, dir).collect()
    assert(out.length == 5, s"one plan row per source incl. '(none)': ${out.length}")
    val n = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    val target = out.map(r => r.getString(0) -> r.getLong(4)).toMap
    val rate = out.map(r => r.getString(0) -> r.getLong(5)).toMap
    // largest-remainder apportionment: targets sum EXACTLY to the budget
    assert(target.values.sum == 86L / 2, s"targets ${target} must sum to budget 43")
    // temperature flattening: sampling RATE is anti-monotone in source
    // size (1/sqrt(n) shape) — the head is thinned hardest, the tail
    // kept (or repeated) at the highest rate
    val bySize = out.sortBy(_.getLong(1))
    bySize.map(_.getLong(5)).zip(bySize.map(_.getLong(5)).drop(1)).foreach { case (small, big) =>
      assert(small >= big, s"rate_ppm must not grow with source size: $rate for $n")
    }
    // weights flatter than shares: tempered weight of the head is BELOW
    // its natural share, the tail's above
    val share = out.map(r => r.getString(0) -> r.getLong(2)).toMap
    val weight = out.map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(weight("srcBig") < share("srcBig"), "head must be down-weighted")
    assert(weight("srcTail") > share("srcTail"), "tail must be up-weighted")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("source divergence matches a brute-force JS computation per source") {
    val got = CorpusOps.sourceDivergence(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("js_divergence")).toMap
    // brute force from raw token counts
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
      .select(coalesce(col("source"), lit("(none)")).as("src"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val corpus = toks.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val n = toks.length.toDouble
    for ((src, st) <- toks.groupBy(_._1)) {
      val cs = st.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
      val nS = st.length.toDouble
      val js = 0.5 * corpus.keysIterator.map { t =>
        val p = cs.getOrElse(t, 0.0) / nS
        val q = corpus(t) / n
        val m = (p + q) / 2
        (if (p > 0) p * math.log(p / m) else 0.0) + q * math.log(q / m)
      }.sum
      assert(math.abs(got(src) - js) < 2e-4, s"$src: ${got(src)} vs brute $js")
      assert(got(src) >= 0 && got(src) <= 0.6932, s"$src out of JS bounds")
    }
  }

  test("batch_drift census loses no document and its shares reconcile") {
    val d = CorpusOps.batchDrift(spark, sfDir).collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nBatch = docs.filter(col("source") === "src19").count()
    val nCorpus = docs.count() - nBatch
    assert(d.map(_.getLong(1)).sum == nBatch, "batch docs don't add up")
    assert(d.map(_.getLong(2)).sum == nCorpus, "corpus docs don't add up")
    for (r <- d) {
      val (bd, cd) = (r.getLong(1), r.getLong(2))
      // avg chars present exactly when the side has documents
      assert(r.isNullAt(6) == (bd == 0), s"batch_avg_chars null-contract broken: $r")
      assert(r.isNullAt(7) == (cd == 0), s"corpus_avg_chars null-contract broken: $r")
      // delta is computed from unrounded shares — reconciles with the
      // rounded shares to within their own rounding
      if (!r.isNullAt(3) && !r.isNullAt(4) && !r.isNullAt(5))
        assert(math.abs(r.getDouble(5) - (r.getDouble(3) - r.getDouble(4))) <= 2e-4)
    }
    // shares sum to ~1 on each populated side
    assert(math.abs(d.map(_.getDouble(3)).sum - 1.0) <= 1e-3)
    assert(math.abs(d.map(_.getDouble(4)).sum - 1.0) <= 1e-3)
  }

  test("data_split: deterministic, content-stable, ~80/10/10") {
    val a = CorpusOps.dataSplit(spark, sfDir).collect()
    val b = CorpusOps.dataSplit(spark, sfDir).collect()
    assert(a.sameElements(b), "split assignment must be deterministic")
    val frac = a.count(_.getAs[String]("split") == "train").toDouble / a.length
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac out of band")
    assert(a.map(_.getAs[String]("split")).toSet == Set("train", "val", "test"))
    // content stability: identical texts always land in the same split —
    // the anti-leakage property that doc_id-based splitting lacks
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val withText = CorpusOps.dataSplit(spark, sfDir)
      .join(docs.select("doc_id", "text"), "doc_id")
    val splitsPerText = withText.groupBy("text")
      .agg(countDistinct(col("split")).as("n"))
      .agg(max(col("n")).as("m"))
      .collect()(0).getLong(0)
    assert(splitsPerText == 1L, "same text must always get the same split")
  }

  test("contamination finds contained eval docs — including in NULL-source training data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_contam").toString
    import spark.implicits._
    Seq(
      (1L, "e0 e1 e2 e3 e4", Some("src0")), // eval doc: 3 grams
      (2L, "pre0 pre1 e0 e1 e2 e3 e4 post0", Some("srcT")), // contains all 3 -> 1.0
      (3L, "x0 x1 x2 x3", Some("srcT")), // disjoint -> absent
      (4L, "e0 e1 e2 zz", Some("srcT")), // shares 1 of 3 grams -> 0.33 < 0.5 -> absent
      // unknown provenance must be CHECKED as training data, not skipped
      (5L, "e0 e1 e2 e3 e4 tail0", None) // NULL source, contains all 3 -> 1.0
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CorpusOps.contamination(spark, dir).collect()
    assert(out.length == 2, s"expected exactly two contaminated pairs, got ${out.toSeq}")
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 1L), (5L, 1L)))
    assert(out.forall(_.getDouble(2) == 1.0))
    // span evidence: doc 2 = "pre0 pre1 e0 e1 e2 e3 e4 post0" — the 3
    // matched shingles start at words 3..5 (1-based); doc 5 starts at 1
    val byTrain = out.map(r => r.getLong(0) ->
      (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(byTrain(2L) == ((3L, 3L, 3L, 5L)), s"doc 2 span wrong: ${byTrain(2L)}")
    assert(byTrain(5L) == ((3L, 3L, 1L, 3L)), s"doc 5 span wrong: ${byTrain(5L)}")
  }

  test("dedup_incremental: corpus wins regardless of id; delta keeps its earliest") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    import spark.implicits._
    def run(p: String) = (0 to 10).map(i => s"$p$i").mkString(" ")
    def runShift(p: String) = (2 to 12).map(i => s"$p$i").mkString(" ")
    Seq(
      // established corpus
      (10L, run("beta"), Some("srcA")),
      (11L, run("gamma"), Some("srcA")),
      // NULL source = established data too (corpus), never the batch
      (40L, run("eta"), None),
      // new crawl batch
      (3L, runShift("beta"), Some("src19")), // near-dup of corpus 10, LOWER id -> dropped
      (20L, run("gamma"), Some("src19")), // exact dup of corpus 11 -> dropped
      (21L, run("zeta"), Some("src19")), // kept (earliest of the zeta pair)
      (22L, runShift("zeta"), Some("src19")), // near-dup of lower delta 21 -> dropped
      (30L, run("uniq"), Some("src19")), // unique -> kept
      (35L, runShift("eta"), Some("src19")), // near-dup of NULL-source 40 -> dropped
      (39L, run("theta"), Some("src19")), // near-dup of HIGHER-id null-source 41 -> dropped
      (41L, runShift("theta"), None)
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = CorpusOps.dedupIncremental(spark, dir).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(21L, 30L), s"kept $kept — expected Seq(21, 30)")
  }

  test("dedup_incremental_bloom: exact-stage admission through the membership gate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_incr").toString
    import spark.implicits._
    Seq(
      // established corpus (incl. NULL source = established)
      (10L, Some("shared boilerplate page one"), Some("srcA")),
      (11L, Some("corpus only page"), Some("srcA")),
      (40L, Some("null source established page"), None),
      (41L, None: Option[String], Some("srcA")), // NULL corpus text: never in the filter
      // crawl batch
      (3L, Some("shared boilerplate page one"), Some("src19")), // exact dup of corpus 10 -> dropped
      (20L, Some("null source established page"), Some("src19")), // dup of NULL-source 40 -> dropped
      (21L, Some("fresh delta page alpha"), Some("src19")), // kept (earliest of pair)
      (22L, Some("fresh delta page alpha"), Some("src19")), // delta dup of 21 -> dropped
      (30L, Some("unique delta page"), Some("src19")), // kept
      (31L, None: Option[String], Some("src19")), // NULL text: never dropped (both engines)
      (32L, None: Option[String], Some("src19"))  // second NULL text: still kept
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", coalesce(length(col("text")), lit(0)))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = CorpusOps.dedupIncrementalBloom(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(21L, 30L, 31L, 32L), s"kept $kept — expected Seq(21, 30, 31, 32)")
    // near-dups are NOT this operator's job: a shifted near-dup survives
    // the exact gate (the contract difference vs dedup_incremental)
    val plan = CorpusOps.dedupIncrementalBloom(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_contains") || plan.contains("BloomContains"),
      s"membership gate missing from the physical plan:\n$plan")
  }

  test("dedup_incremental matches its oracle SQL on the null-source fixture") {
    // the fixture above exercises branches the driver's testdata never
    // hits (NULL source, corpus-wins-with-higher-id) — replay the oracle
    // semantics in Spark SQL over the same parquet and compare outputs
    val dir = java.nio.file.Files.createTempDirectory("graft_incr3").toString
    import spark.implicits._
    def run(p: String, from: Int = 0) = (from to from + 10).map(i => s"$p$i").mkString(" ")
    Seq(
      (10L, run("beta"), Some("srcA")),
      (40L, run("eta"), None),
      (3L, run("beta", 2), Some("src19")),
      (35L, run("eta", 2), Some("src19")),
      (39L, run("theta"), Some("src19")),
      (41L, run("theta", 2), None),
      (30L, run("uniq"), Some("src19"))
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      graft.operators.Dedup.clearSharedCache()
      val kept = CorpusOps.dedupIncremental(spark, dir).collect().map(_.getLong(0)).toSeq
      assert(kept == Seq(30L), s"kept $kept — 3 (corpus 10), 35 (null-src 40), " +
        "39 (higher-id null-src 41) must all drop; only 30 survives")
    } finally graft.operators.Dedup.clearSharedCache()
  }

  test("indexed admission: zero corpus scans, parity with standalone, loud staleness") {
    val base = java.nio.file.Files.createTempDirectory("graft_gidx").toString
    val dir = s"$base/data"
    val idx = s"$base/idx"
    import spark.implicits._
    def run(p: String, from: Int = 0) = (from to from + 10).map(i => s"$p$i").mkString(" ")
    def writeDocs(extra: Seq[(Long, String, Option[String])]): Unit =
      (Seq(
        (10L, run("beta"), Some("srcA")),
        (40L, run("eta"), None), // NULL source = corpus, must be indexed
        (3L, run("beta", 2), Some("src19")), // near-dup of corpus 10 -> dropped
        (20L, run("beta"), Some("src19")), // exact dup of corpus 10 -> dropped
        (21L, run("zeta"), Some("src19")), // kept (earliest of the zeta pair)
        (22L, run("zeta", 2), Some("src19")), // near-dup of lower delta 21 -> dropped
        (35L, run("eta", 2), Some("src19")), // near-dup of NULL-source 40 -> dropped
        (30L, run("uniq"), Some("src19")) // kept
      ) ++ extra)
        .toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(Nil)
    try {
      graft.operators.Dedup.clearSharedCache()
      val expected = CorpusOps.dedupIncremental(spark, dir).collect().toSeq
      assert(expected.map(_.getLong(0)) == Seq(21L, 30L))
      graft.operators.GramIndex.build(spark, dir, idx)
      assert(graft.operators.GramIndex.isFresh(spark, dir, idx))
      val df = CorpusOps.dedupIncrementalIndexed(spark, dir, idx, buildIfStale = false)
      // zero corpus scans: every documents scan must carry the pushed
      // batch-source filter — the corpus side comes only from the index
      val plan = df.queryExecution.executedPlan.toString
      val docScanLines = plan.split("\n").filter(l =>
        l.contains("FileScan parquet") && l.contains("documents.parquet"))
      assert(docScanLines.nonEmpty, s"no documents scans found in:\n$plan")
      for (l <- docScanLines)
        assert(l.contains("EqualTo(source,src19)"),
          s"corpus-side documents scan leaked into the indexed plan:\n$l")
      assert(df.collect().toSeq == expected, "indexed admission diverged from standalone")
      // staleness: any table change flips the stamp — strict mode fails
      // loudly, default mode rebuilds and matches the new standalone run
      writeDocs(Seq((50L, run("newcorpus"), Some("srcA")),
        (51L, run("newcorpus", 2), Some("src19")))) // near-dup of NEW corpus 50
      assert(!graft.operators.GramIndex.isFresh(spark, dir, idx), "stamp did not flip")
      intercept[IllegalStateException] {
        CorpusOps.dedupIncrementalIndexed(spark, dir, idx, buildIfStale = false)
      }
      graft.operators.Dedup.clearSharedCache()
      val expected2 = CorpusOps.dedupIncremental(spark, dir).collect().toSeq
      val rebuilt = CorpusOps.dedupIncrementalIndexed(spark, dir, idx).collect().toSeq
      assert(rebuilt == expected2, "rebuilt-index admission diverged from standalone")
      assert(rebuilt.map(_.getAs[Long]("doc_id")).forall(id => id != 51L),
        "doc 51 near-dups new corpus doc 50 and must be dropped after rebuild")
    } finally graft.operators.Dedup.clearSharedCache()
  }

  test("corpus_curate: composition of its oracled parts, filters genuinely applied") {
    import graft.operators.{CorpusOps, Dedup}
    import graft.operators.TextAnalysis
    try {
      Dedup.clearSharedCache()
      val out = CorpusOps.curate(spark, sfDir)
      val rows = out.collect()
      assert(rows.nonEmpty, "curated corpus empty")
      assert(rows.forall(_.getAs[String]("pred_lang") == "en"))
      assert(rows.forall(_.getAs[Double]("quality_score") >= 0.5))
      assert(rows.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "val", "test")))
      val ids = rows.map(_.getAs[Long]("doc_id")).toSet
      // every curated doc is a dedup survivor; every dropped dup is absent
      val keepers = Dedup.corpusDedupNg(spark, sfDir).collect().map(_.getLong(0)).toSet
      assert(ids.subsetOf(keepers), "curated doc that dedup dropped")
      // the quality filter excludes someone on real data — otherwise
      // this test would pass with the filter deleted (every synthetic
      // doc classifies 'en', so language can't discriminate here; the
      // pred_lang=="en" invariant above still pins that filter's wiring)
      val lowQ = TextAnalysis.quality(spark, sfDir)
        .filter(col("quality_score") < 0.5).count()
      assert(lowQ > 0, s"fixture cannot discriminate on quality")
      assert(ids.size < keepers.size, "filters excluded nobody")
    } finally graft.operators.Dedup.clearSharedCache()
  }

  test("curate langSource knob: model verdict swaps in, set differences are disagreements") {
    import graft.operators.{CorpusOps, Dedup, TextAnalysis}
    try {
      Dedup.clearSharedCache()
      val keptH = CorpusOps.curate(spark, sfDir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
      spark.conf.set("spark.graft.corpus.langSource", "model")
      val keptM = CorpusOps.curate(spark, sfDir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
      spark.conf.unset("spark.graft.corpus.langSource")
      assert(keptM.nonEmpty, "model-sourced curation kept nothing")
      assert(keptM.values.forall(_ == "en"), "model-sourced curate leaked a non-en verdict")
      // the two runs may keep different docs, but ONLY on docs where the
      // two language sources disagree (every other predicate is shared)
      val heur = TextAnalysis.langid(spark, sfDir)
        .select("doc_id", "pred_lang").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val model = TextAnalysis.lidModel(spark, sfDir)
        .select("doc_id", "pred_lang").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val symDiff = (keptH.keySet diff keptM.keySet) ++ (keptM.keySet diff keptH.keySet)
      for (id <- symDiff)
        assert(
          (heur(id) == "en") != (model.get(id).contains("en")),
          s"doc $id swapped without a language disagreement " +
            s"(heuristic=${heur(id)}, model=${model.get(id)})")
      // the funnel census still accounts for EVERY document under the
      // model source: docs outside the model's domain (no trigram
      // features) attribute to the lang stage instead of vanishing
      spark.conf.set("spark.graft.corpus.langSource", "model")
      val fun = CorpusOps.funnel(spark, sfDir).collect()
      for (r <- fun)
        assert(
          r.getAs[Long]("n_docs") ==
            r.getAs[Long]("drop_dedup") + r.getAs[Long]("drop_lang") +
              r.getAs[Long]("drop_quality") + r.getAs[Long]("n_kept"),
          s"waterfall identity broke under langSource=model: $r")
      val total = fun.map(_.getAs[Long]("n_docs")).sum
      assert(total == graft.sources.Tables.documents(spark, sfDir).count(),
        s"model-sourced funnel lost documents: $total")
      spark.conf.unset("spark.graft.corpus.langSource")
      // an invalid source fails loudly, never silently heuristic
      spark.conf.set("spark.graft.corpus.langSource", "fasttext")
      intercept[IllegalArgumentException] { CorpusOps.curate(spark, sfDir) }
    } finally {
      spark.conf.unset("spark.graft.corpus.langSource")
      graft.operators.Dedup.clearSharedCache()
    }
  }

  test("corpus_funnel: waterfall identity holds and reconciles with curate exactly") {
    import graft.operators.{CorpusOps, Dedup}
    try {
      Dedup.clearSharedCache()
      val rows = CorpusOps.funnel(spark, sfDir).collect()
      assert(rows.nonEmpty, "funnel empty")
      // per-row identity: every document lands in exactly one stage
      for (r <- rows) {
        val (n, dd, dl, dq, k) = (r.getAs[Long]("n_docs"), r.getAs[Long]("drop_dedup"),
          r.getAs[Long]("drop_lang"), r.getAs[Long]("drop_quality"), r.getAs[Long]("n_kept"))
        assert(n == dd + dl + dq + k, s"waterfall leak for source ${r.getAs[String]("source")}")
      }
      // census totals reconcile with the corpus and the materializer
      val docs = graft.sources.Tables.documents(spark, sfDir)
      assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count(), "doc conservation")
      val curated = CorpusOps.curate(spark, sfDir)
      assert(rows.map(_.getAs[Long]("n_kept")).sum == curated.count(),
        "funnel kept != curate output")
      assert(rows.map(_.getAs[Long]("chars_kept")).sum ==
        curated.agg(sum(col("n_chars"))).collect()(0).getLong(0),
        "kept char mass != curate char mass")
      // the fixture discriminates: at least one source actually loses docs
      assert(rows.exists(r => r.getAs[Long]("n_docs") > r.getAs[Long]("n_kept")),
        "no source lost a document — filters unobservable")
    } finally graft.operators.Dedup.clearSharedCache()
  }

  test("corpus_shard: exact two-phase prefix sum, no un-partitioned window") {
    // parity with the naive single-window formulation on real data —
    // the two-phase bucket/offset machinery must be EXACT, not close
    import org.apache.spark.sql.expressions.Window
    val naive = graft.sources.Tables.documents(spark, sfDir)
      .filter(length(trim(col("text"))) > 0)
      .select(
        col("doc_id"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long").as("n_tokens"))
      .withColumn(
        "ex",
        coalesce(
          sum(col("n_tokens")).over(
            Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("doc_id"), col("n_tokens"), expr("ex DIV 50000").as("shard"))
    val got = CorpusOps.corpusShard(spark, sfDir)
    assert(got.exceptAll(naive).count() == 0 && naive.exceptAll(got).count() == 0,
      "two-phase shard assignment diverges from the naive global window")
    // determinism across invocations (fresh quantile sampling each time)
    assert(got.collect().toSeq == CorpusOps.corpusShard(spark, sfDir).collect().toSeq)
    // shards are contiguous in doc_id order and non-decreasing
    val shards = got.select("shard").collect().map(_.getLong(0))
    assert(shards.zip(shards.drop(1)).forall { case (a, b) => a <= b }, "shards not monotone")
    // the scale property itself: no window in the plan may be
    // un-partitioned (that is the single-task global sort this operator
    // exists to avoid)
    val windows = got.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "corpus_shard plans an un-partitioned window")
  }

  test("GramIndex.absorb equals a from-scratch rebuild after batch rotation") {
    import graft.operators.GramIndex
    val base = java.nio.file.Files.createTempDirectory("graft_absorb").toString
    val dir = s"$base/data"
    import spark.implicits._
    def run(p: String, from: Int = 0) = (from to from + 10).map(i => s"$p$i").mkString(" ")
    def write(extra: Seq[(Long, String, Option[String])]): Unit =
      (Seq(
        (10L, run("beta"), Some("srcA")),
        (40L, run("eta"), None),
        (3L, run("beta", 2), Some("src19")), // shares grams with corpus 10
        (20L, run("beta"), Some("src19")), // exact copy of corpus 10 (hash union hit)
        (30L, run("uniq"), Some("src19"))
      ) ++ extra)
        .toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(Nil)
    // absorb of a missing index must fail loudly, never silently rebuild
    intercept[IllegalStateException] {
      GramIndex.absorb(spark, dir, s"$base/nowhere", "src19", "src20")
    }
    GramIndex.build(spark, dir, s"$base/idxA", "src19")
    GramIndex.absorb(spark, dir, s"$base/idxA", "src19", "src20")
    assert(GramIndex.isFresh(spark, dir, s"$base/idxA", "src20"), "absorb did not re-bind")
    GramIndex.build(spark, dir, s"$base/idxB", "src20")
    def gramRows(p: String) = GramIndex.grams(spark, p).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getSeq[Long](2)).map(_.toList))).toSet
    def hashRows(p: String) = GramIndex.hashes(spark, p).collect().map(_.getString(0)).toSet
    assert(gramRows(s"$base/idxA") == gramRows(s"$base/idxB"),
      "absorbed gram rows diverge from a rebuild")
    assert(hashRows(s"$base/idxA") == hashRows(s"$base/idxB"),
      "absorbed hash set diverges from a rebuild")
    // once the next batch has landed, absorb's equivalence is gone — loud
    write(Seq((60L, run("next"), Some("src20"))))
    GramIndex.build(spark, dir, s"$base/idxC", "src19")
    val e = intercept[IllegalStateException] {
      GramIndex.absorb(spark, dir, s"$base/idxC", "src19", "src20")
    }
    assert(e.getMessage.contains("before the next batch lands"), e.getMessage)
  }

  test("BloomStore.absorb is BYTE-identical to a from-scratch rebuild after rotation") {
    import graft.operators.BloomStore
    val base = java.nio.file.Files.createTempDirectory("graft_bloom_absorb").toString
    val dir = s"$base/data"
    import spark.implicits._
    def write(extra: Seq[(Long, String, Option[String])]): Unit =
      (Seq(
        (10L, "established page one", Some("srcA")),
        (40L, "null source page", None),
        (3L, "batch page alpha", Some("src19")),
        (20L, "established page one", Some("src19")), // exact copy of corpus 10
        (30L, "batch page beta", Some("src19"))
      ) ++ extra)
        .toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(Nil)
    // absorb of a missing store must fail loudly, never silently rebuild
    intercept[IllegalStateException] {
      BloomStore.absorb(spark, dir, s"$base/nowhere", "src19", "src20")
    }
    BloomStore.build(spark, dir, s"$base/bsA", "src19")
    BloomStore.absorb(spark, dir, s"$base/bsA", "src19", "src20")
    assert(BloomStore.isFresh(spark, dir, s"$base/bsA", "src20"), "absorb did not re-bind")
    BloomStore.build(spark, dir, s"$base/bsB", "src20")
    // bit-OR union under the same sizing pair ⇒ the absorbed filter is
    // byte-equal to the rebuild, the strongest parity any store offers
    val a = BloomStore.readFilterBytes(spark, s"$base/bsA")
    val b = BloomStore.readFilterBytes(spark, s"$base/bsB")
    assert(java.util.Arrays.equals(a, b), "absorbed filter bytes diverge from a rebuild")
    // capacity gauge: 5 docs into an expected-5 filter reads ~1
    assert(BloomStore.saturation(spark, s"$base/bsA") > 0.0)
    // once the next batch has landed, absorb's equivalence is gone — loud
    write(Seq((60L, "the next crawl", Some("src20"))))
    BloomStore.build(spark, dir, s"$base/bsC", "src19")
    val e = intercept[IllegalStateException] {
      BloomStore.absorb(spark, dir, s"$base/bsC", "src19", "src20")
    }
    assert(e.getMessage.contains("before the next batch lands"), e.getMessage)
    // the warm query path: fresh store serves; stale + buildIfStale=false is loud
    BloomStore.build(spark, dir, s"$base/bsD", "src19")
    CorpusOps.dedupIncrementalBloom(spark, dir, "src19", s"$base/bsD", buildIfStale = false)
      .collect(): Unit
    write(Seq((61L, "stamp drift page", Some("srcA"))))
    intercept[IllegalStateException] {
      CorpusOps.dedupIncrementalBloom(spark, dir, "src19", s"$base/bsD", buildIfStale = false)
        .collect(): Unit
    }
  }

  test("TextIndex.absorb equals a from-scratch rebuild after batch rotation") {
    import graft.operators.TextIndex
    val base = java.nio.file.Files.createTempDirectory("graft_tidx_absorb").toString
    val dir = s"$base/data"
    import spark.implicits._
    def write(extra: Seq[(Long, String, Option[String])]): Unit =
      (Seq(
        (10L, "spark join the river", Some("srcA")),
        (40L, "stream of the spark", None),
        (3L, "join join stream", Some("src19")), // shares tokens with corpus
        (20L, "spark join the river", Some("src19")), // exact copy of corpus 10
        (30L, "unique words only", Some("src19"))
      ) ++ extra)
        .toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(Nil)
    // absorb of a missing index must fail loudly, never silently rebuild
    intercept[IllegalStateException] {
      TextIndex.absorb(spark, dir, s"$base/nowhere", "src19", "src20")
    }
    TextIndex.build(spark, dir, s"$base/idxA", Some("src19"))
    TextIndex.absorb(spark, dir, s"$base/idxA", "src19", "src20")
    assert(TextIndex.isFresh(spark, dir, s"$base/idxA", "src20"), "absorb did not re-bind")
    TextIndex.build(spark, dir, s"$base/idxB", Some("src20"))
    def posts(p: String) = spark.read.parquet(s"$p/postings").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def vocab(p: String) = spark.read.parquet(s"$p/vocab").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    def metaN(p: String) = graft.operators.Store.readMeta(spark, p).get("n")
    assert(posts(s"$base/idxA") == posts(s"$base/idxB"),
      "absorbed postings diverge from a rebuild")
    assert(vocab(s"$base/idxA") == vocab(s"$base/idxB"),
      "absorbed vocab diverges from a rebuild")
    assert(metaN(s"$base/idxA") == metaN(s"$base/idxB"),
      "absorbed doc count (the IDF numerator) diverges from a rebuild")
    // once the next batch has landed, absorb's equivalence is gone — loud
    write(Seq((60L, "late arrival", Some("src20"))))
    TextIndex.build(spark, dir, s"$base/idxC", Some("src19"))
    val e = intercept[IllegalStateException] {
      TextIndex.absorb(spark, dir, s"$base/idxC", "src19", "src20")
    }
    assert(e.getMessage.contains("before the next batch lands"), e.getMessage)
  }

  test("dedup_incremental: index-reuse (warm) path matches the standalone (cold) path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr2").toString
    import spark.implicits._
    def run(p: String, from: Int = 0) = (from to from + 10).map(i => s"$p$i").mkString(" ")
    Seq(
      (10L, run("beta"), "srcA"),
      (3L, run("beta", 2), "src19"),
      (21L, run("zeta"), "src19"),
      (30L, run("uniq"), "src19")
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      graft.operators.Dedup.clearSharedCache()
      assert(graft.operators.Dedup.ngramPairsIfCached(spark, dir).isEmpty)
      val cold = CorpusOps.dedupIncremental(spark, dir).collect().toSeq
      // warm the shared ngram pair frame the way any other consumer would
      graft.operators.Dedup.ngramJaccard(spark, dir).count()
      assert(graft.operators.Dedup.ngramPairsIfCached(spark, dir).isDefined)
      val warm = CorpusOps.dedupIncremental(spark, dir).collect().toSeq
      assert(warm == cold, s"warm path diverged:\nwarm=$warm\ncold=$cold")
    } finally graft.operators.Dedup.clearSharedCache()
  }

  test("excision: every flagged doc loses a whole-gram span and changes content") {
    val e = CorpusOps.contaminationExcise(spark, sfDir).cache()
    assert(e.count() > 0, "fixture has no contaminated doc — test is vacuous")
    // a span covers at least one whole 3-gram and fits in the document
    assert(e.filter(col("n_removed") < 3 || col("n_removed") > col("n_words")).count() == 0)
    // the cleaned fingerprint never equals the normalized original's
    val orig = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        col("doc_id"),
        md5(concat_ws(" ", split(trim(regexp_replace(col("text"), " +", " ")), " ")))
          .as("orig_md5"))
    assert(e.join(orig, "doc_id").filter(col("clean_md5") === col("orig_md5")).count() == 0)
    e.unpersist()
  }

  test("corpus profile: anchors exact at small cardinality, counters add up") {
    import graft.operators.CorpusProfile
    val p = CorpusProfile.corpusProfile(spark, sfDir).cache()
    // lgK=12 HLL is in exact (sparse) mode at tens of distincts per source
    assert(p.filter(col("distinct_est") =!= col("distinct_exact")).count() == 0,
      "HLL estimate diverged from exact in the sparse regime")
    val corpusDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(coalesce(col("source") =!= "src19", lit(true))).count()
    val profiled = p.agg(sum(col("n_docs"))).head().getLong(0)
    assert(profiled == corpusDocs, s"profile covers $profiled of $corpusDocs corpus docs")
    p.unpersist()
  }

  test("corpus_profile adopts an absorbed store's rotation instead of clobbering it") {
    import graft.operators.{CorpusProfile, GramIndex}
    val root = java.nio.file.Files.createTempDirectory("profile_rotate").toString
    spark.conf.set("spark.graft.corpus.storeRoot", root)
    try {
      CorpusProfile.corpusProfile(spark, sfDir).count() // builds at src19
      val path = CorpusProfile.defaultPath(spark, sfDir)
      CorpusProfile.absorb(spark, sfDir, path, oldDelta = "src19", newDelta = "srcNONE")
      assert(CorpusProfile.isFresh(spark, sfDir, path, deltaSource = "srcNONE"))
      // a read-looking query must not rebuild the maintained artifact
      val out = CorpusProfile.corpusProfile(spark, sfDir)
      assert(out.count() > 0)
      assert(CorpusProfile.isFresh(spark, sfDir, path, deltaSource = "srcNONE"),
        "corpus_profile clobbered the absorbed store back to the src19 exclusion")
      // and the anchor side follows the recorded exclusion: src19 rows
      // are now established corpus, so the src19 bucket appears
      assert(out.filter(col("source") === "src19").count() == 1)
    } finally spark.conf.unset("spark.graft.corpus.storeRoot")
  }

  test("corpus profile absorb: estimate-identical to a from-scratch rebuild") {
    import graft.operators.CorpusProfile
    val base = java.nio.file.Files.createTempDirectory("profile_absorb").toString
    val pa = s"$base/absorbed"
    val pb = s"$base/rebuilt"
    CorpusProfile.build(spark, sfDir, pa, deltaSource = "src19")
    // next batch already landed -> absorb must refuse
    intercept[IllegalStateException] {
      CorpusProfile.absorb(spark, sfDir, pa, oldDelta = "src19", newDelta = "src5")
    }
    CorpusProfile.absorb(spark, sfDir, pa, oldDelta = "src19", newDelta = "srcNONE")
    assert(CorpusProfile.isFresh(spark, sfDir, pa, deltaSource = "srcNONE"))
    CorpusProfile.build(spark, sfDir, pb, deltaSource = "srcNONE")
    def snap(path: String) = CorpusProfile.read(spark, path)
      .collect().map(_.toSeq).toSet
    assert(snap(pa) == snap(pb),
      s"absorbed profile diverged from rebuild:\nabsorbed=${snap(pa)}\nrebuilt=${snap(pb)}")
    // absorbing against a stale base refuses loudly
    intercept[IllegalStateException] {
      CorpusProfile.absorb(spark, sfDir, pa, oldDelta = "src19", newDelta = "srcNONE")
    }
  }

  test("text index: warm retrieval never scans the corpus and equals scan-time search") {
    import graft.operators.{TextAnalysis, TextIndex}
    val base = java.nio.file.Files.createTempDirectory("graft_tidx").toString
    val idx = s"$base/idx"
    TextIndex.build(spark, sfDir, idx)
    assert(TextIndex.isFresh(spark, sfDir, idx))
    val df = TextIndex.searchIndexed(spark, sfDir, idx)
    val plan = df.queryExecution.executedPlan.toString
    // ZERO corpus scans: the plan touches only the index artifacts
    assert(!plan.contains("documents.parquet"), s"corpus scan in indexed plan:\n$plan")
    // and the term predicate reaches the pruned postings scan
    val postScans = plan.split("\n").filter(l => l.contains("FileScan") && l.contains("postings"))
    assert(postScans.nonEmpty, s"no postings scan in:\n$plan")
    assert(postScans.exists(l => l.contains("In(tok") || l.contains("EqualTo(tok")),
      s"term filter not pushed to the postings scan:\n${postScans.mkString("\n")}")
    assert(df.collect().toSeq == TextAnalysis.search(spark, sfDir).collect().toSeq,
      "indexed retrieval diverged from scan-time search")
  }

  test("text index: BM25 twin equals scan-time searchBm25, zero corpus scans, saturation real") {
    import graft.operators.{TextAnalysis, TextIndex}
    val base = java.nio.file.Files.createTempDirectory("graft_tidx_bm25").toString
    val idx = s"$base/idx"
    val df = TextIndex.searchBm25Indexed(spark, sfDir, idx) // builds on first call
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), s"corpus scan in BM25 indexed plan:\n$plan")
    val indexed = df.collect().toSeq
    val scan = TextAnalysis.searchBm25(spark, sfDir).collect().toSeq
    assert(indexed == scan, "BM25 indexed retrieval diverged from scan-time")
    assert(indexed.nonEmpty)
    // the two BM25 fixes are live: per-term contribution saturates in tf
    // (strictly concave: doubling tf less than doubles the term) and
    // longer docs score lower at equal tf — replayed driver-side from
    // the result's own (tf, dl) columns via the exact rational shape
    val rows = scan.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    // independent driver-side census (count/df/L) straight off the table
    val cens = spark.read.parquet(s"$sfDir/documents.parquet").selectExpr(
      "COUNT(*) AS n",
      "SUM(CAST(COALESCE(size(filter(split(text, ' '), x -> x != '')), 0) AS LONG)) AS l",
      "SUM(CASE WHEN array_contains(split(text, ' '), 'spark') THEN 1L ELSE 0L END) AS dfa",
      "SUM(CASE WHEN array_contains(split(text, ' '), 'join') THEN 1L ELSE 0L END) AS dfb",
      "SUM(CASE WHEN array_contains(split(text, ' '), 'stream') THEN 1L ELSE 0L END) AS dfc")
      .collect()(0)
    val (n, lTot, dfA, dfB, dfC) =
      (cens.getLong(0), cens.getLong(1), cens.getLong(2), cens.getLong(3), cens.getLong(4))
    def term(tf: Long, df: Long, dl: Long): Double =
      if (df <= 0 || tf <= 0) 0.0
      else math.log((2.0 * n + 2) / (2.0 * df + 1)) *
        ((22.0 * tf * lTot) / (10.0 * tf * lTot + 3.0 * lTot + 9.0 * dl * n))
    // recompute each top-20 score from its own row — the engine's score
    // must match the driver replay to the same 4dp rounding
    for ((_, tfa, tfb, tfc, dl, score) <- rows) {
      val replay = BigDecimal(term(tfa, dfA, dl) + term(tfb, dfB, dl) + term(tfc, dfC, dl))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(replay - score) <= 1e-4 + 1e-9,
        s"BM25 score $score != driver replay $replay")
    }
    // saturation: term(2·tf) < 2·term(tf) for any live tf
    assert(term(10, dfA, 100) < 2 * term(5, dfA, 100))
    // length normalization: same tf, longer doc scores strictly lower
    assert(term(5, dfA, 400) < term(5, dfA, 100))
  }

  test("text index: a corpus rewrite flips the stamp and triggers a rebuild") {
    import graft.operators.{TextAnalysis, TextIndex}
    val base = java.nio.file.Files.createTempDirectory("graft_tidx2").toString
    val dir = s"$base/data"
    val idx = s"$base/idx"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r1 = TextIndex.searchIndexed(spark, dir, idx).collect().toSeq // builds on first call
    assert(TextIndex.isFresh(spark, dir, idx) && r1.nonEmpty)
    // in-place rewrite: half the corpus — the stamp must flip
    docs.limit(25).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(!TextIndex.isFresh(spark, dir, idx), "stamp did not flip on rewrite")
    val r2 = TextIndex.searchIndexed(spark, dir, idx).collect().toSeq // rebuilds
    assert(TextIndex.isFresh(spark, dir, idx))
    assert(r2 == TextAnalysis.search(spark, dir).collect().toSeq,
      "post-rewrite retrieval diverged from scan-time search")
    assert(r1 != r2, "fixture vacuous: rewrite did not change the result")
  }

  test("pack: gapless token stream — every doc starts exactly where the previous ended") {
    val L = 2048L
    val rows = CorpusOps.corpusPack(spark, sfDir).collect()
    assert(rows.nonEmpty)
    var expectedEx = 0L
    for (r <- rows) { // already doc_id-ordered
      val (n, sf, off, sl, ns, tail) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      val ex = sf * L + off
      assert(ex == expectedEx, s"doc ${r.getLong(0)} starts at $ex, stream is at $expectedEx")
      assert(sl == (ex + n - 1) / L && ns == sl - sf + 1, s"sequence span wrong in $r")
      assert(tail == (ex + n - 1) % L + 1 && tail >= 1 && tail <= L, s"tail wrong in $r")
      // a doc that fits its first sequence must not claim a second
      assert((off + n <= L) == (ns == 1), s"split decision wrong in $r")
      expectedEx = ex + n
    }
    // the pack and the shard see the identical global prefix: a doc's
    // shard (50k budget) is derivable from its pack placement
    val shard = CorpusOps.corpusShard(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    for (r <- rows) {
      val ex = r.getLong(2) * L + r.getLong(3)
      assert(shard(r.getLong(0)) == ex / 50000L,
        s"shard and pack disagree on doc ${r.getLong(0)}'s prefix")
    }
  }
}

package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The session regime every entry point shares: the codegen class cache
  * that `GraftSession.builder` sizes, and `Bench`'s full-result action
  * and per-query record. */
class SessionSpec extends GraftSpecBase {

  test("the builder's session reports the codegen cache constant") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a repeated working set of more than 100 generated classes is not recompiled") {
    // graftbench's analytics_sql operations: the six reference queries plus
    // one each from RelationalDeep, Windows and Analytics. Together they
    // compile about 135 classes, more than Spark's default cache of 100
    // holds, so at the default the second pass recompiles about 125.
    val names = Seq(
      "q1_seg_pct", "q2_topnation_share", "q3_name_stats", "q4_rank_nations",
      "q5_word_count", "q6_orders_per_cust", "q6_forecast", "win_cumsum", "date_growth")
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      names.foreach(n => Bench.materialise(SparkEntry.queries(n)(spark, sfDir)))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val compiled = pass()
    val recompiled = pass()
    info(s"first pass compiled $compiled classes, second pass $recompiled")
    assert(recompiled < 20, s"second pass compiled $recompiled classes")
  }

  test("Bench materialises every column, which count() would prune") {
    val df = spark.range(3).select(col("id"), raise_error(lit("evaluated")).as("boom"))
    assert(df.count() == 3)
    val e = intercept[Exception](Bench.materialise(df))
    assert(e.getMessage.contains("evaluated"))
  }

  test("Bench records each query's jobs and the caches and stores it built or hit") {
    val census = new Bench.Census
    spark.sparkContext.addSparkListener(census)
    // a store root of its own, so the first corpus_profile call builds
    val root = java.nio.file.Files.createTempDirectory("record_stores").toString
    spark.conf.set("spark.graft.corpus.storeRoot", root)
    try {
      graft.operators.Dedup.clearSharedCache()
      def run(name: String, group: String) =
        Bench.run(spark, name, group)(SparkEntry.queries(name)(spark, sfDir))
      val train = run("text_bpe_train", "record#train")
      val tokenize = run("text_tokenize_ids", "record#tokenize")
      val first = run("corpus_profile", "record#profile1")
      val second = run("corpus_profile", "record#profile2")
      Seq(train, tokenize, first, second).foreach(r => assert(r.ok, s"${r.name} failed"))
      assert(train.built.contains("bpe_merge_table"), train)
      assert(tokenize.hit.contains("bpe_merge_table") && !tokenize.built.contains("bpe_merge_table"),
        tokenize)
      assert(first.built.contains("store:corpus_profile"), first)
      assert(second.hit.contains("store:corpus_profile") && !second.built.contains("store:corpus_profile"),
        second)
      eventually(timeout(20.seconds)) {
        for (g <- Seq("record#train", "record#tokenize", "record#profile1", "record#profile2"))
          assert(census(g).forall(_ > 0), s"$g: jobs, stages, tasks ${census(g)}")
      }
    } finally {
      spark.sparkContext.removeSparkListener(census)
      spark.conf.unset("spark.graft.corpus.storeRoot")
    }
  }
}

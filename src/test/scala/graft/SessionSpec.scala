package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The session regime every entry point shares: the codegen class cache
  * that `GraftSession.builder` sizes, and `Bench`'s full-result action. */
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
}

package graft

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

class StoreSpec extends GraftSpecBase {

  private def writeDocs(dir: String, limit: Int = Int.MaxValue, extra: Boolean = false): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").orderBy("doc_id").limit(limit)
    (if (extra) docs.withColumn("extra", lit(1L)) else docs)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Re-index the fresh store `d` at `path` through a commit whose first
    * staged body is written and whose second one dies; then assert the
    * store reads stale and that `consume` rebuilds it to its old answer. */
  private def crashAndRebuild(
      d: Store.Decl,
      dir: String,
      path: String,
      binding: String,
      isFresh: () => Boolean,
      consume: () => Seq[org.apache.spark.sql.Row]): Unit = {
    assert(isFresh())
    val before = consume()
    val e = intercept[java.io.IOException] {
      Store.commit(spark, d, dir, path, binding)(d.bodies.zipWithIndex.map {
        case (b, 0) => b -> ((p: String) => spark.range(1).write.mode("overwrite").parquet(p))
        case (b, _) => b -> ((_: String) => throw new java.io.IOException("injected crash"))
      }: _*)
    }
    assert(e.getMessage == "injected crash")
    assert(!isFresh(), s"${d.name}: a re-index that died mid-commit must read stale")
    assert(consume() == before, s"${d.name}: the consumer must rebuild the store")
    assert(isFresh())
  }

  test("a gram re-index that dies on its second staged body reads stale and is rebuilt") {
    val base = java.nio.file.Files.createTempDirectory("graft_store_crash").toString
    val dir = s"$base/data"
    val idx = s"$base/idx"
    writeDocs(dir, limit = 40)
    GramIndex.build(spark, dir, idx)
    crashAndRebuild(GramIndex.store, dir, idx, GramIndex.DefaultDeltaSource,
      () => GramIndex.isFresh(spark, dir, idx),
      () => CorpusOps.dedupIncrementalIndexed(spark, dir, idx).collect().toSeq)
  }

  test("a text re-index that dies on its second staged body reads stale and is rebuilt") {
    val base = java.nio.file.Files.createTempDirectory("graft_store_crash").toString
    val dir = s"$base/data"
    val idx = s"$base/idx"
    writeDocs(dir, limit = 40)
    TextIndex.build(spark, dir, idx)
    val search = () => TextIndex.searchIndexed(spark, dir, idx).collect().toSeq
    assert(search().nonEmpty, "fixture vacuous: no search hits")
    crashAndRebuild(TextIndex.store, dir, idx, "", () => TextIndex.isFresh(spark, dir, idx), search)
  }

  test("file:// dirs: a table rewrite stales the cached frame, the stable schema and the store") {
    val base = java.nio.file.Files.createTempDirectory("graft_store_uri").toString
    writeDocs(s"$base/data")
    val dir = s"file://$base/data"
    val profile = s"file://$base/profile"
    var builds = 0
    def frame() = PipelineCache.cached("store_spec_docs", spark, dir, "documents.parquet") {
      builds += 1
      Tables.documents(spark, dir)
    }
    def columns() = Tables.stableParquet(spark, s"$dir/documents.parquet").columns.toSeq
    frame()
    frame()
    assert(builds == 1, "an unchanged table must serve the cached frame")
    assert(!columns().contains("extra"))
    CorpusProfile.build(spark, dir, profile)
    assert(CorpusProfile.isFresh(spark, dir, profile))
    val stamp = Store.stamp(spark, dir, "documents.parquet")
    writeDocs(s"$base/data", limit = 25, extra = true)
    assert(Store.stamp(spark, dir, "documents.parquet") != stamp, "the rewrite must change the stamp")
    frame().unpersist()
    assert(builds == 2, "a rewritten table must rebuild the cached frame")
    assert(columns().contains("extra"), "a rewritten table must re-infer its schema")
    assert(!CorpusProfile.isFresh(spark, dir, profile), "a rewritten table must stale the store")
  }
}

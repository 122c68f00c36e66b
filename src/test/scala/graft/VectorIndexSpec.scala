package graft

import graft.operators.{Similarity, VectorIndex}
import org.apache.spark.sql.execution.FileSourceScanExec

/** The persisted IVF store: serving parity with the scan-time operator,
  * the zero-embeddings-scan warm-path contract, and reader-level cell
  * pruning. */
class VectorIndexSpec extends GraftSpecBase {

  private def withStore(f: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_vec_idx").toString
    try f(s"$tmp/store")
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("ann_ivf_idx answers row-identically to the scan-time ann_ivf_topk") {
    withStore { path =>
      val idx = VectorIndex.annIndexed(spark, sfDir, path).collect().toSeq
      val scan = Similarity.annIvf(spark, sfDir).collect().toSeq
      assert(idx == scan, s"indexed ANN diverged from scan-time ANN (${idx.size} vs ${scan.size} rows)")
    }
  }

  test("warm path plans ZERO embeddings scans and prunes non-probed cells at the reader") {
    withStore { path =>
      VectorIndex.build(spark, sfDir, path)
      assert(VectorIndex.isFresh(spark, sfDir, path))
      graft.operators.PipelineCache.clear()
      // static plan inspection — AQE off so scans are plan-visible (the
      // ScaleSpec annIvf idiom)
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = VectorIndex.annIndexed(spark, sfDir, path)
        val plan = df.queryExecution.executedPlan
        val s = plan.toString
        assert(!s.contains("embeddings.parquet"), s"warm path must not touch the corpus:\n$s")
        val vecScans = plan.collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("/vectors")) =>
            f
        }
        assert(vecScans.nonEmpty, s"expected a store vectors scan in:\n$s")
        // the eager cell literal must reach the scan as a partition filter
        assert(vecScans.forall(_.toString.contains("PartitionFilters: [cell")),
          s"cell literal did not become a partition filter:\n${vecScans.mkString("\n")}")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("ann_ivfpq_idx answers row-identically to the scan-time ann_ivfpq_topk") {
    withStore { path =>
      val idx = VectorIndex.annIvfPqIndexed(spark, sfDir, path).collect().toSeq
      val scan = Similarity.annIvfPq(spark, sfDir).collect().toSeq
      assert(idx == scan,
        s"indexed IVF-ADC diverged from scan-time IVF-ADC (${idx.size} vs ${scan.size} rows)")
    }
  }

  test("ann_lsh_idx answers row-identically to the scan-time ann_lsh_topk") {
    withStore { path =>
      val idx = VectorIndex.annLshIndexed(spark, sfDir, path).collect().toSeq
      val scan = Similarity.annLsh(spark, sfDir).collect().toSeq
      assert(idx == scan,
        s"indexed LSH diverged from scan-time LSH (${idx.size} vs ${scan.size} rows)")
    }
  }

  test("warm LSH path plans zero embeddings scans and prunes hash-table partitions") {
    withStore { path =>
      VectorIndex.build(spark, sfDir, path)
      graft.operators.PipelineCache.clear()
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = VectorIndex.annLshIndexed(spark, sfDir, path)
        val plan = df.queryExecution.executedPlan
        val s = plan.toString
        assert(!s.contains("embeddings.parquet"), s"warm LSH path must not touch the corpus:\n$s")
        val lshScans = plan.collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("/lshbuckets")) =>
            f
        }
        assert(lshScans.nonEmpty, s"expected a store lshbuckets scan in:\n$s")
        // the probed-bucket literal must reach the scan as a partition filter
        assert(lshScans.forall(f => f.toString.contains("PartitionFilters: [((t")
            && f.toString.contains("INSET")),
          s"bucket literal did not become a partition filter:\n${lshScans.mkString("\n")}")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("warm IVF-ADC path plans zero embeddings scans and prunes pqcodes cells at the reader") {
    withStore { path =>
      VectorIndex.build(spark, sfDir, path)
      assert(VectorIndex.isFresh(spark, sfDir, path))
      graft.operators.PipelineCache.clear()
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = VectorIndex.annIvfPqIndexed(spark, sfDir, path)
        val plan = df.queryExecution.executedPlan
        val s = plan.toString
        assert(!s.contains("embeddings.parquet"), s"warm IVF-ADC must not touch the corpus:\n$s")
        // candidates come from the compressed code rows, never the store's
        // float vectors — the persisted ADC trade
        assert(!s.contains("/vectors"), s"IVF-ADC serving must not read the vectors body:\n$s")
        val codeScans = plan.collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("/pqcodes")) =>
            f
        }
        assert(codeScans.nonEmpty, s"expected a pqcodes scan in:\n$s")
        assert(codeScans.forall(_.toString.contains("PartitionFilters: [cell")),
          s"cell literal did not become a pqcodes partition filter:\n${codeScans.mkString("\n")}")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("ann_graph_idx answers row-identically to the scan-time ann_graph_topk") {
    withStore { path =>
      val idx = VectorIndex.annGraphIndexed(spark, sfDir, path).collect().toSeq
      val scan = Similarity.annGraph(spark, sfDir).collect().toSeq
      assert(idx == scan,
        s"indexed graph-ANN diverged from scan-time graph-ANN (${idx.size} vs ${scan.size} rows)")
    }
  }

  test("warm graph path plans zero embeddings scans and reads the persisted graph body") {
    withStore { path =>
      VectorIndex.build(spark, sfDir, path)
      assert(VectorIndex.isFresh(spark, sfDir, path))
      graft.operators.PipelineCache.clear()
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = VectorIndex.annGraphIndexed(spark, sfDir, path)
        val plan = df.queryExecution.executedPlan
        val s = plan.toString
        assert(!s.contains("embeddings.parquet"), s"warm graph path must not touch the corpus:\n$s")
        val graphScans = plan.collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("/nngraph")) =>
            f
        }
        // the walk reads the persisted graph, never rebuilds it. Since
        // the r16 hop-cache plan-truncation barrier, only the FINAL
        // (uncached) hop's nngraph scan is plan-visible — the earlier
        // hops read the stamp-cached frames through LogicalRDD leaves
        // (whose own lineage reads the same store bodies at runtime)
        assert(graphScans.nonEmpty, s"expected an nngraph hop scan in:\n$s")
        assert(s.contains("Scan ExistingRDD"),
          s"hop-cache truncation barrier missing from the walk plan:\n$s")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("graph method recall floor: the ann_recall frame reports graph hits above zero") {
    val rows = Similarity
      .annRecall(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> r.getLong(3))
      .toMap
    assert(rows.contains("graph"), s"annRecall must report the graph method: $rows")
    // hash-uniform fixture vectors are graph-ANN's worst case (no cluster
    // structure to climb), so the floor is modest — but the walk must
    // find SOME true neighbors and can never exceed brute by construction
    assert(rows("graph") > 0L, s"graph recall collapsed to zero: $rows")
    assert(rows("graph") <= 1000000L, s"recall_u over 100%: $rows")
  }

  test("a v1-format store is stale-by-version: serving rebuilds it as v2 with the PQ bodies") {
    withStore { path =>
      VectorIndex.build(spark, sfDir, path)
      // simulate a store persisted by the pre-PQ build: v1 meta line
      val v1 = Seq(
        graft.operators.Store.stamp(spark, sfDir, "embeddings.parquet"),
        "k=16",
        s"v1:ivf16:d${Similarity.embDim(spark)}").mkString("\n")
      // drop the Hadoop checksum sidecar before the direct overwrite —
      // a stale .meta.crc would fail the store's next read
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$path/.meta.crc"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$path/meta"),
        v1.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(!VectorIndex.isFresh(spark, sfDir, path), "v1 meta must read stale under v2 code")
      assert(VectorIndex.annIvfPqIndexed(spark, sfDir, path).count() > 0)
      assert(VectorIndex.isFresh(spark, sfDir, path))
      assert(new java.io.File(s"$path/pqcodes").exists() &&
        new java.io.File(s"$path/pqcodebook").exists())
    }
  }

  test("v5→v6 migration: a raw-PQ v5 store is stale-by-version and rebuilds with residual bodies") {
    withStore { path =>
      VectorIndex.build(spark, sfDir, path)
      // simulate a store persisted by the r15 (v5) build: raw-vector PQ
      // codebooks, no rcentroids body — serving it false-fresh
      // would answer residual query tables against raw codebooks
      val v5 = Seq(
        graft.operators.Store.stamp(spark, sfDir, "embeddings.parquet"),
        "k=16",
        s"v5:ivf16:pq8x16:lsh6x4:nn8:d${Similarity.embDim(spark)}",
        "").mkString("\n")
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$path/.meta.crc"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$path/meta"),
        v5.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // a v5 body set would also be missing rcentroids — delete it so a
      // false-fresh read CANNOT accidentally serve the right answer
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$path/rcentroids"))
      assert(!VectorIndex.isFresh(spark, sfDir, path), "v5 meta must read stale under v6 code")
      // serving transparently rebuilds → every declared body present,
      // answers the scan-time residual operator's rows exactly
      val idx = VectorIndex.annIvfPqIndexed(spark, sfDir, path).collect().toSeq
      assert(VectorIndex.isFresh(spark, sfDir, path))
      for (body <- VectorIndex.store.bodies)
        assert(new java.io.File(s"$path/$body").exists(), s"rebuilt store lacks $body")
      assert(idx == Similarity.annIvfPq(spark, sfDir).collect().toSeq,
        "migrated store diverged from the scan-time residual IVF-ADC")
    }
  }

  test("VectorIndex.absorb equals a from-scratch rebuild after the batch range rotates") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_vidx_absorb").toString
    def rows(p: String, body: String): Set[List[Any]] = {
      val df = spark.read.parquet(s"$p/$body")
      val cols = df.columns.sorted.toList
      df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
        .map(r =>
          cols.indices.map(i =>
            r.get(i) match {
              case s: scala.collection.Seq[_] => s.toList
              case x => x
            }).toList)
        .toSet
    }
    try {
      // absorb of a missing store must fail loudly, never silently rebuild
      intercept[IllegalStateException] {
        VectorIndex.absorb(spark, sfDir, s"$tmp/nowhere", 400L, 1000L)
      }
      // base store: corpus = vec_id < 400; the "crawl" is [400, 1000)
      VectorIndex.build(spark, sfDir, s"$tmp/idxA", Some(400L))
      assert(VectorIndex.isFresh(spark, sfDir, s"$tmp/idxA", Some(400L)))
      assert(!VectorIndex.isFresh(spark, sfDir, s"$tmp/idxA"),
        "an exclusion build must not read fresh under the default binding")
      VectorIndex.absorb(spark, sfDir, s"$tmp/idxA", 400L, 1000L)
      assert(VectorIndex.isFresh(spark, sfDir, s"$tmp/idxA", Some(1000L)),
        "absorb did not re-bind")
      VectorIndex.build(spark, sfDir, s"$tmp/idxB", Some(1000L))
      for (body <- VectorIndex.store.bodies)
        assert(rows(s"$tmp/idxA", body) == rows(s"$tmp/idxB", body),
          s"absorbed $body diverges from a rebuild")
      // wrong oldFrom = stale base — loud, never a silent wrong merge
      intercept[IllegalStateException] {
        VectorIndex.absorb(spark, sfDir, s"$tmp/idxA", 400L, 2000L)
      }
      // CHAINED absorbs: the second absorb reads bodies the FIRST one
      // wrote (vectors, codebook and buckets round-tripped through
      // parquet) — still byte-identical to a one-shot rebuild
      VectorIndex.build(spark, sfDir, s"$tmp/idxC", Some(250L))
      VectorIndex.absorb(spark, sfDir, s"$tmp/idxC", 250L, 400L)
      VectorIndex.absorb(spark, sfDir, s"$tmp/idxC", 400L, 1000L)
      for (body <- VectorIndex.store.bodies)
        assert(rows(s"$tmp/idxC", body) == rows(s"$tmp/idxB", body),
          s"chained-absorbed $body diverges from a rebuild")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("a stale store (embeddings rewrite) rebuilds instead of serving old cells") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft_vec_stale").toString
    val dir = s"$tmp/data"
    spark.read.parquet(s"$sfDir/embeddings.parquet").write.parquet(s"$dir/embeddings.parquet")
    spark.read.parquet(s"$sfDir/documents.parquet").write.parquet(s"$dir/documents.parquet")
    val path = s"$tmp/store"
    try {
      VectorIndex.build(spark, dir, path)
      assert(VectorIndex.isFresh(spark, dir, path))
      // in-place rewrite signature: a part file's mtime moves (the dir
      // must STAY valid parquet — the rebuild re-reads it)
      val part = Files.list(Paths.get(s"$dir/embeddings.parquet")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet"))
        .get
      Files.setLastModifiedTime(
        part, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
      assert(!VectorIndex.isFresh(spark, dir, path), "stamp drift must stale the store")
      // serving on the stale store transparently rebuilds → fresh again
      assert(VectorIndex.annIndexed(spark, dir, path).count() > 0)
      assert(VectorIndex.isFresh(spark, dir, path))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }
}

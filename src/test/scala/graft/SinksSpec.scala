package graft

import graft.operators.{Multimodal, Relational, Sampling}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends GraftSpecBase {

  test("fullParquet round-trips partitioned data") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val df = Relational.q1Agg(spark, sfDir)
    Sinks.fullParquet(df, s"$dir/q1", partitionBy = Seq("l_returnflag"))
    val back = spark.read.parquet(s"$dir/q1")
    assert(back.count() == df.count())
    assert(back.columns.toSet == df.columns.toSet)
  }

  test("sampleCsv writes a single readable csv with header") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val sample = Sampling.stratified(spark, sfDir)
    Sinks.sampleCsv(sample, s"$dir/sample")
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(s"$dir/sample")
    assert(back.count() == sample.count())
  }

  test("permissive csv reader loads what the sink wrote") {
    val dir = Files.createTempDirectory("graft_sink").toString
    Sinks.sampleCsv(Sampling.deterministic(spark, sfDir), s"$dir/det")
    val back = Tables.csv(spark, s"$dir/det")
    assert(back.count() > 0 && back.columns.contains("event_id"))
  }

  test("ivfPartitioned store prunes non-probed cells at the reader") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val vecs = Tables
      .embeddings(spark, sfDir)
      .withColumn("cell", (col("vec_id") % 16).cast("int"))
    Sinks.ivfPartitioned(vecs, s"$dir/ivf")
    val probe = spark.read.parquet(s"$dir/ivf").filter(col("cell").isin(3, 7))
    val plan = probe.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // the filter must appear INSIDE the PartitionFilters list — the label
    // alone prints even when nothing is pushed ("PartitionFilters: []")
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"cell filter not pushed to partition pruning:\n$plan")
    assert(probe.count() == vecs.filter(col("cell").isin(3, 7)).count())
  }

  test("trainingExport: a train-only read prunes val/test partitions and leaks nothing") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val curated = graft.operators.CorpusOps.dataSplit(spark, sfDir)
    Sinks.trainingExport(curated, s"$dir/export")
    val train = spark.read.parquet(s"$dir/export").filter(col("split") === "train")
    val plan = train.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[[^\\]]*split".r.findFirstIn(plan).isDefined,
      s"split filter not pushed to partition pruning:\n$plan")
    // exact coverage: the exported train slice IS the labeled train set,
    // and the three slices partition the corpus
    val want = curated.filter(col("split") === "train").count()
    assert(train.count() == want && want > 0)
    assert(spark.read.parquet(s"$dir/export").count() == curated.count())
    val dirs = new java.io.File(s"$dir/export").listFiles().map(_.getName).filter(_.startsWith("split="))
    assert(dirs.toSet == Set("split=train", "split=val", "split=test"),
      s"unexpected partition layout: ${dirs.toSeq}")
  }

  test("upsertParquet replaces keyed rows and keeps the rest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sink").toString + "/store"
    Sinks.upsertParquet(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), "id")
    Sinks.upsertParquet(spark, dir,
      Seq((2L, "B2"), (4L, "d")).toDF("id", "v"), "id")
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
  }

  test("upsertParquet recovers from a stale .old left by a crashed run") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sink").toString + "/store"
    Sinks.upsertParquet(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "id")
    // simulate a crash that left garbage at .old — pre-fix this made BOTH
    // swap renames fail silently and the store served stale data forever
    val old = new java.io.File(dir + ".old")
    assert(old.mkdirs())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir + ".old/garbage"), "x")
    Sinks.upsertParquet(spark, dir, Seq((2L, "B2")).toDF("id", "v"), "id")
    val out = spark.read.parquet(dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B2"), s"store served stale or partial data: $out")
    assert(!old.exists(), ".old not cleaned up after a successful swap")
  }

  test("upsertParquet restores the store when a crash left only .old") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sink").toString + "/store"
    Sinks.upsertParquet(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "id")
    // simulate a crash BETWEEN the two renames: target moved to .old,
    // staging never promoted — no live store remains
    Files.move(java.nio.file.Paths.get(dir), java.nio.file.Paths.get(dir + ".old"))
    Sinks.upsertParquet(spark, dir, Seq((3L, "c")).toDF("id", "v"), "id")
    val out = spark.read.parquet(dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "b", 3L -> "c"),
      s"pre-crash rows lost instead of recovered from .old: $out")
  }

  test("upsertParquet replaces NULL-key rows instead of accumulating duplicates") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sink").toString + "/store"
    val withNull = Seq((Option(1L), "a"), (Option.empty[Long], "n1")).toDF("id", "v")
    Sinks.upsertParquet(spark, dir, withNull, "id")
    Sinks.upsertParquet(spark, dir, Seq((Option.empty[Long], "n2")).toDF("id", "v"), "id")
    val rows = spark.read.parquet(dir).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getString(1)).toMap
    assert(rows == Map(Some(1L) -> "a", None -> "n2"), s"NULL-key row not replaced: $rows")
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("a failed rename raises instead of returning silently") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val src = new org.apache.hadoop.fs.Path(s"$dir/does_not_exist")
    val e = intercept[java.io.IOException] {
      graft.operators.Store.rename(
        graft.operators.Store.fs(spark, src), src, new org.apache.hadoop.fs.Path(s"$dir/dst"))
    }
    assert(e.getMessage.contains("rename"), s"unhelpful error: ${e.getMessage}")
  }

  test("jdbc sink round-trips a sample table through embedded Derby") {
    val dbDir = Files.createTempDirectory("graft_derby").toString + "/db"
    val url = s"jdbc:derby:$dbDir;create=true"
    val df = Relational.q1Agg(spark, sfDir)
    Sinks.jdbc(df, url, "q1_export")
    val back = Sinks.readJdbc(spark, url, "q1_export")
    assert(back.count() == df.count())
    assert(back.columns.map(_.toLowerCase).toSet == df.columns.map(_.toLowerCase).toSet)
    // cell-exact: Derby round-trip must not perturb values
    val a = df.collect().map(_.toSeq.map(String.valueOf)).map(_.mkString("|")).sorted
    val b = back.collect().map(_.toSeq.map(String.valueOf)).map(_.mkString("|")).sorted
    assert(a.sameElements(b), "JDBC round-trip changed values")
  }

  test("jdbc catalog census enumerates the export's tables, counts and columns") {
    // the reference's get_table_info contract (main.py:340-368): after
    // exporting sample tables into the second store, the census reads
    // back table names, row counts and column names through the same
    // JDBC reader the query side uses
    val dbDir = Files.createTempDirectory("graft_derby_cat").toString + "/db"
    val url = s"jdbc:derby:$dbDir;create=true"
    val q1 = Relational.q1Agg(spark, sfDir)
    Sinks.jdbc(q1, url, "q1_export")
    Sinks.jdbc(graft.sources.Tables.region(spark, sfDir), url, "region_export")
    val census = Sinks.jdbcCatalog(spark, url).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getSeq[String](3).map(_.toLowerCase).toSet))
      .toMap
    assert(census.keySet == Set("APP.Q1_EXPORT", "APP.REGION_EXPORT"),
      s"catalog drifted: ${census.keySet}")
    val (n1, c1, cols1) = census("APP.Q1_EXPORT")
    assert(n1 == q1.count(), s"q1 export count $n1 != ${q1.count()}")
    assert(c1 == q1.columns.length.toLong)
    assert(cols1 == q1.columns.map(_.toLowerCase).toSet, s"q1 columns drifted: $cols1")
    val (n2, _, cols2) = census("APP.REGION_EXPORT")
    assert(n2 == graft.sources.Tables.region(spark, sfDir).count())
    assert(cols2.contains("r_name"), s"region columns drifted: $cols2")
    // census order is part of the contract: sorted by qualified name
    val ordered = Sinks.jdbcCatalog(spark, url).collect().map(_.getString(0)).toSeq
    assert(ordered == ordered.sorted, s"census not name-ordered: $ordered")
  }

  test("jdbc sink append mode accumulates rows") {
    import spark.implicits._
    val dbDir = Files.createTempDirectory("graft_derby").toString + "/db"
    val url = s"jdbc:derby:$dbDir;create=true"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sinks.jdbc(df, url, "t_append")
    Sinks.jdbc(Seq((3L, "c")).toDF("id", "v"), url, "t_append", org.apache.spark.sql.SaveMode.Append)
    assert(Sinks.readJdbc(spark, url, "t_append").count() == 3)
  }

  test("permissive csv reader drops malformed rows") {
    val dir = Files.createTempDirectory("graft_csv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.csv"),
      "id,n\n1,10\n2,not_a_number\n3,30\n")
    val df = Tables.csv(spark, s"$dir/data.csv")
    // inferSchema types n as a number from the good rows at sample time or
    // falls back to string; either way the reader must not throw and must
    // surface the well-formed rows
    assert(df.count() >= 2)
    assert(df.columns.toSeq == Seq("id", "n"))
  }

  test("fullOrc round-trips rows and schema") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val df = Relational.q1Agg(spark, sfDir)
    Sinks.fullOrc(df, s"$dir/q1orc")
    val back = spark.read.orc(s"$dir/q1orc")
    assert(back.count() == df.count())
    assert(back.columns.toSet == df.columns.toSet)
  }

  test("jsonLines round-trips rows and schema") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val df = Relational.q1Agg(spark, sfDir)
    Sinks.jsonLines(df, s"$dir/q1json")
    val back = spark.read.json(s"$dir/q1json")
    assert(back.count() == df.count())
    assert(df.columns.toSet.subsetOf(back.columns.toSet))
  }

  test("binary media payloads round-trip a format-partitioned parquet store") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_media_store").toString
    // persist the REAL container bytes partitioned by format — the media
    // lake layout: a format-filtered decode prunes partitions at the reader
    Sinks.fullParquet(
      Multimodal.mediaTable(spark, sfDir).toDF(), s"$dir/media.parquet", Seq("format"))
    val back = spark.read.parquet(s"$dir/media.parquet")
      .select("doc_id", "format", "payload")
      .as[Multimodal.MediaIn]
    // decode the STORED bytes through the same batched decoder: features
    // must match the scan-time pipeline exactly (binary column intact)
    val fromStore = back
      .mapPartitions(it => it.grouped(32).flatMap(Multimodal.MediaDecoder.decodeBatch))
      .toDF().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
      .toSet
    val live = Multimodal.features(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
      .toSet
    assert(fromStore == live, s"stored-media decode diverged: ${(live -- fromStore).take(2)}")
    // and the partition pruning is real: a format filter reads only its dir
    val plan = spark.read.parquet(s"$dir/media.parquet")
      .filter(col("format") === "wav").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(format"), s"format not partition-pruned:\n$plan")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("mm_resize: exact half geometry, resized content NOT the original's hash") {
    val out = Multimodal.resize(spark, sfDir).cache()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(out.count() == docs.count())
    assert(out.filter(col("new_w") =!= (col("orig_w") / 2).cast("long")).count() == 0)
    assert(out.filter(col("n_bytes_out") =!= col("new_w") * col("new_h")).count() == 0)
    // the resample genuinely re-derives content: its hash never equals the
    // full-resolution content hash from mm_features
    val feats = Multimodal.features(spark, sfDir).select("doc_id", "content_hash")
    assert(out.join(feats, "doc_id").filter(col("resized_hash") === col("content_hash")).count() == 0)
    out.unpersist()
  }

  test("mm_features: REAL container decode — headers parsed, payload not md5(text)") {
    val out = Multimodal.features(spark, sfDir).cache()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(out.count() == docs.count())
    // the content hash comes from decoded media bytes, never from the text
    assert(out.join(docs, "doc_id").filter(col("content_hash") === md5(col("text"))).count() == 0)
    // geometry is the REAL header's: png IHDR / pgm header / wav data len
    assert(out.filter(col("format").isin("png", "pgm") &&
      (col("width") < 16 || col("width") > 63 || col("height") < 16 || col("height") > 63)).count() == 0)
    assert(out.filter(col("format") === "wav" &&
      (col("height") =!= 1 || col("width") < 256 || col("width") > 511)).count() == 0)
    assert(out.filter(col("n_content_bytes") =!= col("width") * col("height")).count() == 0)
    out.unpersist()
    // byte-level round trip: a hand-built raster survives the real PNG
    // encoder + IHDR parse + ImageIO pixel decode bit-exactly
    val pix = Multimodal.Content.imagePixels(37L, 20, 30)
    val png = Multimodal.Enc.png(20, 30, pix)
    assert((png(1) & 0xff, png(2) & 0xff, png(3) & 0xff) == (0x50, 0x4e, 0x47), "real PNG signature")
    val (w, h, back) = Multimodal.Dec.png(png)
    assert((w, h) == (20, 30) && java.util.Arrays.equals(back, pix))
    // and the WAV header is a real RIFF: canonical 44-byte header layout
    val wav = Multimodal.Enc.wav(Multimodal.Content.audioSamples(37L))
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    val (rate, data) = Multimodal.Dec.wav(wav)
    assert(rate == 8000 && data.length == Multimodal.Content.nSamples(37L))
  }
}

package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Export sinks — the Spark rendering of the reference's result
  * persistence: full results into the analytical store and ~500-row
  * samples into a small-table store (reference main.py:264-289 DuckDB
  * tables, main.py:300-338 SQLite transfer).
  *
  * At scale the "small-table store" pattern stays the same: full results
  * are partitioned parquet (splittable, predicate-prunable); dashboards
  * read a coalesced sample extract, never the full table.
  */
object Sinks {

  /** Full-result sink: snappy parquet, optionally partitioned by columns
    * (partition pruning for downstream readers). */
  def fullParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Sample sink: one CSV file with header — the SQLite-export analog for
    * dashboard-scale extracts. Coalesce(1) is deliberate and safe ONLY for
    * pre-sampled data (the reference caps samples at ~500 rows). */
  def sampleCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1)
      .write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(path)

  /** Sorted, single-file parquet extract (small results only). */
  def sampleParquet(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  /** Key-based upsert into a parquet store: rows from `updates` replace
    * base rows with the same key; everything else is kept. The plan is one
    * left-anti join + union — the incremental-corpus-drop primitive for
    * stores without a transactional table format. NOT atomic: the rewrite
    * goes through a staging directory and a swap, so a reader never sees a
    * half-written store, but concurrent writers are the caller's problem
    * (use a transactional format when you have one). The swap renames
    * through the Hadoop FileSystem ([[graft.operators.Store.rename]]), so
    * it works on HDFS as on local disk; on S3 rename is copy-based and a
    * manifest or table format is needed instead. */
  def upsertParquet(spark: org.apache.spark.sql.SparkSession, path: String, updates: DataFrame, key: String): Unit = {
    import graft.operators.Store.rename
    val target = new Path(path)
    val old = new Path(path + ".old")
    val staging = new Path(path + ".staging")
    val fs = graft.operators.Store.fs(spark, target)
    def remove(p: Path): Unit =
      if (fs.exists(p) && !fs.delete(p, true))
        throw new java.io.IOException(s"upsertParquet: cleanup of $p failed")
    // self-heal the one non-atomic window: a crash between the two renames
    // below leaves no live target but a complete `.old` — restore it so
    // this run merges against the last consistent store instead of
    // resurrecting from nothing
    if (!fs.exists(target) && fs.exists(old)) rename(fs, old, target)
    // a stale `.old` alongside a live target is leftover garbage from a
    // crashed cleanup; it would make the swap's first rename fail
    remove(old)
    val merged =
      if (fs.exists(target)) {
        val base = spark.read.parquet(path)
        base
          // null-safe equality: a NULL-key update must still REPLACE the
          // NULL-key base row (plain === is NULL for NULLs, which kept the
          // old row AND appended the update — silent duplicates per call)
          .join(updates.select(key).withColumnRenamed(key, "__k"),
            base(key) <=> org.apache.spark.sql.functions.col("__k"), "left_anti")
          .unionByName(updates)
      } else updates
    merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    if (fs.exists(target)) {
      rename(fs, target, old)
      try rename(fs, staging, target)
      catch {
        case e: java.io.IOException =>
          // roll back so readers keep serving the previous consistent store;
          // if even the rollback fails, keep the ORIGINAL failure primary
          try rename(fs, old, target)
          catch { case rb: java.io.IOException => e.addSuppressed(rb) }
          throw e
      }
      remove(old)
    } else rename(fs, staging, target)
  }

  /** JDBC export — the Spark rendering of the reference's SQLite transfer
    * (main.py:300-338: sample tables copied into a second queryable store
    * for dashboard/BI consumers). `df.write.jdbc` batches inserts per
    * partition; like the reference this is for SAMPLE-SCALE extracts (a
    * single-node DB is the destination), so callers should pass pre-sampled
    * frames — at 100 TB the full-result path stays parquet and only
    * aggregates/samples cross the JDBC boundary. numPartitions caps the
    * concurrent connections a big frame would otherwise open — note
    * coalesce propagates UP a shuffle-free lineage (like [[sampleCsv]]'s
    * coalesce(1)), so feeding an unshuffled full-table computation here
    * would run it at numPartitions-wide parallelism: pre-sample first.
    * `props` carries credentials/driver for authenticated stores. */
  def jdbc(
      df: DataFrame,
      url: String,
      table: String,
      mode: SaveMode = SaveMode.Overwrite,
      numPartitions: Int = 4,
      props: java.util.Properties = new java.util.Properties): Unit =
    df.coalesce(numPartitions).write.mode(mode).jdbc(url, table, props)

  /** Read a table back from a JDBC store (round-trip check + the query side
    * of the reference's second store). */
  def readJdbc(
      spark: org.apache.spark.sql.SparkSession,
      url: String,
      table: String,
      props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Catalog census of a JDBC export — the reference's `get_table_info`
    * (main.py:340-368) on the Spark side: enumerate the second store's
    * user tables and read back, per table, its row count and column
    * names. The table LIST comes from driver-side JDBC metadata (it is
    * catalog-bounded — a handful of rows); each COUNT goes through
    * [[readJdbc]], so the census exercises exactly the read path a
    * dashboard consumer gets (round-trip pinned by SinksSpec). Sorted by
    * qualified name — a census is a report, and its order is part of the
    * contract.
    *
    * EAGER, driver-side (r16 advice, documented): this method opens a
    * JDBC connection and runs one count job per table AT CALL TIME — it
    * returns a materialized local frame, not a lazy plan (a catalog
    * census is a handful of rows; laziness would only hide when the
    * connections happen). Identifiers from the catalog metadata are
    * re-QUOTED through the connection's own quote string before they
    * re-enter `dbtable`, so a table whose name needs quoting (mixed
    * case, reserved word, special characters) is censused instead of
    * throwing; the report's `table_name` column stays the unquoted
    * human-readable qualified name. */
  def jdbcCatalog(
      spark: org.apache.spark.sql.SparkSession,
      url: String,
      props: java.util.Properties = new java.util.Properties): DataFrame = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    // (display name, quoted dbtable) pairs — quote with the DRIVER's own
    // identifier quote string (getMetaData.getIdentifierQuoteString; " "
    // means "unquotable", fall back to the bare name), doubling embedded
    // quotes per the SQL rule
    val names =
      try {
        val qs = Option(conn.getMetaData.getIdentifierQuoteString)
          .map(_.trim).filter(_.nonEmpty)
        def quote(id: String): String =
          qs.map(q => q + id.replace(q, q + q) + q).getOrElse(id)
        val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
        val b = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        while (rs.next()) {
          val name = rs.getString("TABLE_NAME")
          val schem = Option(rs.getString("TABLE_SCHEM")).filter(_.nonEmpty)
          b += ((
            schem.map(s => s"$s.$name").getOrElse(name),
            schem.map(s => s"${quote(s)}.${quote(name)}").getOrElse(quote(name))))
        }
        rs.close()
        b.toSeq.sortBy(_._1)
      } finally conn.close()
    import spark.implicits._
    names
      .map { case (display, dbtable) =>
        val df = readJdbc(spark, url, dbtable, props)
        (display, df.count(), df.columns.length.toLong, df.columns.toSeq)
      }
      .toDF("table_name", "n_rows", "n_cols", "columns")
  }

  /** ORC sink — the other columnar interchange format (Hive-ecosystem
    * consumers); same partitioning semantics as [[fullParquet]]. */
  def fullOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** IVF vector store: vectors written partitioned by their coarse cell,
    * so an ANN probe of k cells prunes the other partitions AT THE READER
    * (PartitionFilters, no data touched) — the storage half of
    * [[graft.operators.Similarity.annIvf]]'s scale story. Expects a `cell`
    * column (the operator's assignment); everything else is passthrough. */
  def ivfPartitioned(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(path)

  /** Training export — the corpus lifecycle's LAST step: a curated,
    * split-labeled corpus ([[graft.operators.CorpusOps.curate]]'s output
    * shape) lands as parquet partitioned by `split`, so a trainer
    * reading only `split=train` prunes val/test AT THE READER
    * (PartitionFilters — the [[ivfPartitioned]] move applied to the
    * train/val/test axis) and test data cannot leak into a training
    * scan by construction. The `split` column must exist
    * ([[graft.operators.CorpusOps.dataSplit]]'s content-hash labels);
    * everything else is passthrough. No orderBy — partition dirs, not a
    * global sort, carry the layout ([[graft.operators.CorpusOps
    * .dataSplit]]'s 100 TB note made concrete). */
  def trainingExport(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy("split").parquet(path)

  /** Line-delimited JSON sink — the interchange format for feeding
    * downstream non-JVM consumers (labeling UIs, eval harnesses). One part
    * file per task, so reads parallelize ACROSS parts; note gzip is not a
    * splittable codec (each part is one read task) — pass compress=false
    * when single parts may grow large and need intra-file splitting. */
  def jsonLines(df: DataFrame, path: String, compress: Boolean = true): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (compress) w.option("compression", "gzip") else w).json(path)
  }
}

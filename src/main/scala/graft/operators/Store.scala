package graft.operators

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.Tables
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The one protocol of graft's persisted stores ([[GramIndex]],
  * [[BloomStore]], [[TextIndex]], [[CorpusProfile]], [[VectorIndex]], the
  * quality store of [[TextAnalysis]] and the recall store of
  * [[Similarity]]), on any Hadoop filesystem:
  *
  *   - Stamp: [[stamp]] lists a source table through the Hadoop
  *     FileSystem and records each file's relative path, length and
  *     modification time, so any rewrite of the table changes it. The
  *     same stamp keys [[PipelineCache]] and `Tables.stableParquet`.
  *   - Meta: `<path>/meta` holds named `key=value` lines: `stamp`,
  *     `version` (the store's code version), `binding` (the batch the
  *     store leaves out, "" for none) and a store's extras. A meta
  *     without those three keys, such as the positional meta of older
  *     builds, reads as absent: the store is stale and gets rebuilt.
  *   - Commit: [[commit]] is the one write path of every build and
  *     absorb. It deletes meta, writes each body to `<body>_new`, renames
  *     each staged body into place (or throws) and writes meta last. A
  *     crash before the last step leaves a store without meta, which
  *     reads stale and is rebuilt by its next consumer, never served
  *     wrong. Bodies are never overwritten in place, because an absorb's
  *     plans read the live bodies while it stages the new ones.
  *   - Declaration: [[Decl]] names a store's census row, location prefix,
  *     source table, bodies, code version and the binding its default
  *     consumer needs. A store's `isFresh` and [[CorpusOps.storeStatus]]
  *     both read it, so they cannot disagree.
  *
  * [[fresh]] records a hit of `store:<name>` and [[commit]] a build, in
  * [[Record]].
  *
  * Concurrency: a commit racing a reader of the same path can fail that
  * reader's scan, so callers serialize builds of one path against its
  * readers (the driver's use is sequential). */
private[graft] object Store {

  type Meta = Map[String, String]

  /** One store's declaration. `binding` is what its default consumer
    * requires; None when that consumer adopts whatever binding the store
    * records ([[CorpusProfile]]). `version` may read session knobs that
    * change the store's content. */
  final case class Decl(
      name: String,
      prefix: String,
      table: String,
      bodies: Seq[String],
      binding: Option[String])(val version: SparkSession => String)

  private val Required = Seq("stamp", "version", "binding")

  private[graft] def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Change stamp of the table `table` under `dir`. */
  def stamp(s: SparkSession, dir: String, table: String): String =
    stamp(s, new Path(dir, table))

  /** Change stamp of the file or directory tree at `root`; "" when absent. */
  def stamp(s: SparkSession, root: Path): String = {
    val f = fs(s, root)
    def walk(p: Path, rel: String): Seq[String] =
      f.listStatus(p).sortBy(_.getPath.getName).toSeq.flatMap { st =>
        val r = rel + st.getPath.getName
        if (st.isDirectory) walk(st.getPath, r + "/")
        else Seq(s"$r:${st.getLen}:${st.getModificationTime}")
      }
    try walk(root, "").mkString(",")
    catch { case _: FileNotFoundException => "" }
  }

  /** The store's location for dataset `dir`: under
    * `spark.graft.corpus.storeRoot` (any Hadoop filesystem URI) when set,
    * else the local tmpdir, named by the declared prefix and the MD5 of
    * `dir`. */
  def path(s: SparkSession, dir: String, d: Decl): String = {
    val root =
      s.conf.get("spark.graft.corpus.storeRoot", System.getProperty("java.io.tmpdir"))
    val h = java.security.MessageDigest
      .getInstance("MD5")
      .digest(dir.getBytes(UTF_8))
      .map("%02x".format(_))
      .mkString
    new Path(root, s"${d.prefix}_$h").toString
  }

  private[graft] def metaPath(path: String): Path = new Path(path, "meta")

  /** The recorded meta, or None when it is absent or not named-field. */
  def readMeta(s: SparkSession, path: String): Option[Meta] = {
    val p = metaPath(path)
    val text =
      try {
        val in = fs(s, p).open(p)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), UTF_8)
        finally in.close()
      } catch { case _: FileNotFoundException => return None }
    val m = text.split("\n").map(_.split("=", 2)).collect {
      case Array(k, v) if k.nonEmpty => k -> v
    }.toMap
    Some(m).filter(m => Required.forall(m.contains))
  }

  /** Whether `m` binds its store to `stamp`, `version` and `binding`
    * (None: any binding). */
  def matches(m: Meta, stamp: String, version: String, binding: Option[String]): Boolean =
    m("stamp") == stamp && m("version") == version && binding.forall(_ == m("binding"))

  /** The meta of the store `d` at `path` if it is fresh for the current
    * state of `dir`'s source table and for `binding`. */
  def fresh(
      s: SparkSession,
      d: Decl,
      dir: String,
      path: String,
      binding: Option[String]): Option[Meta] =
    readMeta(s, path).filter(matches(_, stamp(s, dir, d.table), d.version(s), binding))
      .map { m => Record.hit(s"store:${d.name}"); m }

  /** The preconditions of an absorb that folds the documents batch
    * `oldDelta` into the store `d` and re-binds it to `newDelta`: the
    * store is fresh for `oldDelta` (a stale base would merge into the
    * wrong corpus), and no `newDelta` rows have landed yet (they would
    * be in neither the base nor the batch, while a rebuild excludes them
    * explicitly). Returns the store's meta; throws otherwise. */
  def absorbable(
      s: SparkSession,
      d: Decl,
      dir: String,
      path: String,
      oldDelta: String,
      newDelta: String): Meta = {
    val meta = fresh(s, d, dir, path, Some(oldDelta)).getOrElse(
      throw new IllegalStateException(
        s"absorb: ${d.name} at $path is missing or stale for $dir (binding=$oldDelta)"))
    if (Tables.documents(s, dir).filter(col("source") === newDelta).limit(1).count() > 0)
      throw new IllegalStateException(
        s"absorb: table already holds '$newDelta' rows — absorb must run before the " +
          "next batch lands (rebuild instead)")
    meta
  }

  /** Replace the store `d` at `path` (see the protocol above). Each body
    * writer receives the path to stage its body at and must overwrite
    * whatever a crashed commit left there. The stamp is taken before any
    * body is written, so a table rewritten mid-commit leaves the store
    * stale, not fresh over old data. */
  def commit(
      s: SparkSession,
      d: Decl,
      dir: String,
      path: String,
      binding: String,
      extras: Meta = Map.empty)(bodies: (String, String => Unit)*): Unit = {
    require(bodies.map(_._1).toSet == d.bodies.toSet,
      s"${d.name}: commit writes ${bodies.map(_._1)}, declared ${d.bodies}")
    val meta = Map("stamp" -> stamp(s, dir, d.table), "version" -> d.version(s),
      "binding" -> binding) ++ extras
    require(meta.forall { case (k, v) => !k.contains('=') && !(k + v).contains('\n') },
      s"${d.name}: meta fields must be single-line: $meta")
    val f = fs(s, metaPath(path))
    f.delete(metaPath(path), false)
    for ((b, write) <- bodies) write(s"$path/${b}_new")
    for ((b, _) <- bodies) {
      val live = new Path(path, b)
      f.delete(live, true)
      rename(f, new Path(path, s"${b}_new"), live)
    }
    val out = f.create(metaPath(path), true)
    try out.write(meta.map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes(UTF_8))
    finally out.close()
    Record.built(s"store:${d.name}")
  }

  /** Hadoop FileSystem rename that throws instead of returning false. */
  def rename(f: FileSystem, src: Path, dst: Path): Unit = {
    def failed = s"rename $src -> $dst failed"
    val ok =
      try f.rename(src, dst)
      catch { case e: IOException => throw new IOException(failed, e) }
    if (!ok) throw new IOException(failed)
  }
}

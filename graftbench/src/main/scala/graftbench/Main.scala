package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.{functions, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Sinks, SparkEntry}
import graft.operators._

/** One run's settings, from `--key value` pairs (see run.py). */
final case class Conf(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    work: String,
    cpus: Int)

object Conf {
  def parse(a: Array[String]): Conf = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("cpus").toInt)
  }
}

/** One attempted operation of the timed section. */
final case class OpRec(name: String, phase: String, round: Int, latencyS: Double, ok: Boolean)

/** The benchmark harness: one workload in one JVM. It calls graft only
  * through `GraftSession.builder`, the `SparkEntry.queries` operators, the
  * stores' public build/absorb/serve calls and `Sinks`. Every operation
  * materialises its full result into Spark's `noop` sink. The raw
  * timings go to `<work>/run.json`; run.py turns them into metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val c = Conf.parse(argv)
    require(Workloads.names.contains(c.workload), s"unknown workload ${c.workload}")
    new Harness(c).run()
  }
}

object Workloads {
  val names = Seq("analytics_sql", "store_lifecycle")

  /** The reference pipeline's six queries; their results are exported. */
  val Reference = Seq(
    "q1_seg_pct", "q2_topnation_share", "q3_name_stats",
    "q4_rank_nations", "q5_word_count", "q6_orders_per_cust")

  /** One operator each from RelationalDeep, Windows and Analytics beside
    * the reference queries; the export step samples through Sampling. */
  val AnalyticsSql: Seq[String] = Reference ++ Seq(
    "q6_forecast", "win_cumsum", "date_growth")

  /** Corpus operators served beside the stores: `text_bpe_train` and
    * `text_tokenize_ids` share the cached BPE merge table, so a round
    * builds it in the first of the two and serves it to the second. The
    * pair is one unit of the seed's shuffle: which of them pays for the
    * build must not depend on the seed. */
  val Corpus = Seq(
    Seq("text_compress_ratio"), Seq("text_topk_approx"), Seq("text_bpe_train", "text_tokenize_ids"),
    Seq("dedup_exact"), Seq("ann_brute_topk"), Seq("mm_resize"), Seq("data_split"))

  /** Store-backed queries at their default store paths: the first call
    * builds the store, later calls serve from it. */
  val StoreQueries = Seq(
    "dedup_incremental_idx", "dedup_incremental_bloom", "text_search_idx", "corpus_profile")

  /** Stores of the delta phase. The text index is served in every round
    * but left out of the delta phase: its build and absorb took 3-6 s,
    * more than the run's time allows. */
  val Stores = Seq("gram_index", "bloom_store", "corpus_profile")

  /** Label of the next, not yet arrived, batch that an absorb re-binds to. */
  val NextBatch = "src20"
}

final class Harness(c: Conf) {
  import Workloads._

  private val queries = SparkEntry.queries
  private val jvmStartNs =
    System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
  /** The round's operations in the seed's order; the store census comes
    * last, after every store it lists exists. */
  private val order = c.workload match {
    case "analytics_sql" => shuffled(AnalyticsSql.map(Seq(_)))
    case _ => shuffled(StoreQueries.map(Seq(_)) ++ Corpus) :+ "store_status"
  }
  private def shuffled(units: Seq[Seq[String]]) = new scala.util.Random(c.seed).shuffle(units).flatten
  /** The batch the delta phase excludes and then absorbs. */
  private val batch = s"src${c.seed % 19}"

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var tracing = false
  private var phase = "setup"
  private var round = 0
  private var nextOp = 0
  private val ops = ArrayBuffer[OpRec]()
  private val traced = ArrayBuffer[OpTrace]()
  private var persistedPeak = 0L
  /** Set during the check step, which keeps every full result for the
    * checker. */
  private var resultDir: Option[String] = None
  /** The DataFrame each operation returned in the latest timed round. */
  private val lastResults = mutable.LinkedHashMap[String, DataFrame]()
  private val out = mutable.LinkedHashMap[String, Any]()

  private def session(): SparkSession = {
    val s = GraftSession
      .builder(appName = "graftbench", master = s"local[${c.cpus}]")
      .config("spark.graft.corpus.storeRoot", s"${c.work}/stores")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secs(t0: Long, t1: Long) = (t1 - t0) / 1e9

  /** Runs one operation: the call, then (for a DataFrame) its full
    * materialisation. A failure is logged and counted, never rethrown. */
  private def op[T](name: String)(call: => T): Option[T] = {
    val t = if (tracing) Some(new OpTrace(nextOp, name, round)) else None
    nextOp += 1
    t.foreach(tracer.begin)
    val t0 = System.nanoTime()
    var t1 = t0
    val res =
      try {
        val r = call
        t1 = System.nanoTime()
        r match {
          case df: DataFrame =>
            resultDir match {
              case None => df.write.format("noop").mode("overwrite").save()
              case Some(d) =>
                // the check step keeps the full result for the checker;
                // collecting first leaves the operator's own plan unchanged
                val rows = df.collect()
                spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
                  .write.mode("overwrite").parquet(s"$d/$name")
            }
            if (phase == "round") lastResults(name) = df
          case _ =>
        }
        Some(r)
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] $phase operation $name failed: $e")
          None
      }
    val t2 = System.nanoTime()
    if (res.isEmpty) t1 = t2
    t.foreach { o =>
      o.start = t0; o.callEnd = t1; o.end = t2
      BusDrain(spark.sparkContext)
      tracer.finish()
      traced += o
      persistedPeak = math.max(persistedPeak,
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }
    ops += OpRec(name, phase, round, secs(t0, t2), res.isDefined)
    res
  }

  private def query(name: String, dir: String): Option[DataFrame] = op(name)(queries(name)(spark, dir))

  // ---------------------------------------------------------------- rounds

  private val exportStats = ArrayBuffer[Map[String, Any]]()

  /** The reference's export step: each of the six persisted results is
    * sampled to about 500 rows (the sample is persisted too, as a user
    * writing it twice would), written through `Sinks.jdbc` into
    * embedded Derby and through `Sinks.fullParquet`, and read back through
    * `Sinks.readJdbc`. */
  private def export(results: Map[String, DataFrame], tag: String): Unit = {
    val url = s"jdbc:derby:${c.work}/derby/$tag;create=true"
    // an overwrite empties the existing table instead of re-creating it
    val props = new java.util.Properties
    props.setProperty("truncate", "true")
    Reference.filter(results.contains).foreach { q =>
      val table = s"EXP_${q.toUpperCase}"
      val path = s"${c.work}/export/$tag/$q"
      val t = new Array[Long](5)
      val rows = op(s"export:$q") {
        t(0) = System.nanoTime()
        val src = results(q)
        val sample = Sampling.seeded(src, math.min(1.0, 500.0 / math.max(1L, src.count())), c.seed)
          .persist()
        try {
          sample.count()
          t(1) = System.nanoTime()
          Sinks.jdbc(sample, url, table, numPartitions = 1, props = props)
          t(2) = System.nanoTime()
          Sinks.fullParquet(sample, path)
          t(3) = System.nanoTime()
          val n = Sinks.readJdbc(spark, url, table).collect().length
          t(4) = System.nanoTime()
          n
        } finally sample.unpersist()
      }
      if (phase == "round") exportStats += Map(
        "query" -> q, "round" -> round, "rows" -> rows.getOrElse(0),
        "sample_s" -> secs(t(0), t(1)), "jdbc_write_s" -> secs(t(1), t(2)),
        "parquet_write_s" -> secs(t(2), t(3)), "jdbc_read_s" -> secs(t(3), t(4)),
        "bytes" -> dirBytes(new File(path))._1)
    }
    op("export_catalog")(Sinks.jdbcCatalog(spark, url))
  }

  /** The reference queries' results stay persisted until the export step
    * has read them, as the reference pipeline persists its results. */
  private def analyticsRound(dir: String, tag: String): Unit = {
    val results = order.flatMap { q =>
      val keep = Reference.contains(q)
      op(q) { val df = queries(q)(spark, dir); if (keep) df.persist() else df }
        .filter(_ => keep).map(q -> _)
    }.toMap
    try export(results, tag) finally results.values.foreach(_.unpersist())
  }

  private def storeRound(dir: String): Unit = {
    Dedup.clearSharedCache()
    order.foreach(query(_, dir))
  }

  private def build(kind: String, dir: String, p: String, exclude: String): Unit = kind match {
    case "gram_index" => GramIndex.build(spark, dir, p, exclude)
    case "bloom_store" => BloomStore.build(spark, dir, p, exclude)
    case "corpus_profile" => CorpusProfile.build(spark, dir, p, exclude)
  }

  private def absorb(kind: String, dir: String, p: String): Unit = kind match {
    case "gram_index" => GramIndex.absorb(spark, dir, p, batch, NextBatch)
    case "bloom_store" => BloomStore.absorb(spark, dir, p, batch, NextBatch)
    case "corpus_profile" => CorpusProfile.absorb(spark, dir, p, batch, NextBatch)
  }

  /** Each store is built (over an earlier build) with one source batch
    * left out, the batch is absorbed, and the profile is served. */
  private def deltaSteps(dir: String, root: String): Unit = {
    Stores.foreach(k => op(s"build:$k")(build(k, dir, s"$root/$k", batch)))
    Stores.foreach(k => op(s"absorb:$k")(absorb(k, dir, s"$root/$k")))
    op("serve:corpus_profile")(CorpusProfile.read(spark, s"$root/corpus_profile"))
  }

  private val roundWalls = ArrayBuffer[Map[String, Any]]()
  private var heapPeak = 0L

  /** Heap in use after a full GC; the GC runs outside every timing. */
  private def heapAfterGc(): Long = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapPeak = math.max(heapPeak, used)
    used
  }

  private def timedPhase(name: String, traceIt: Boolean)(body: => Unit): Unit = {
    phase = name
    tracing = traceIt
    val t0 = System.nanoTime()
    body
    val wall = secs(t0, System.nanoTime())
    tracing = false
    roundWalls += Map("phase" -> name, "round" -> round, "wall_s" -> wall,
      "traced" -> traceIt, "heap_mb" -> heapAfterGc() / 1048576.0)
    round += 1
  }

  /** Repeats whole rounds until `seconds` have passed, and at least two:
    * an operation's latency is its fastest over the rounds. A traced run
    * first runs one discarded round, then blocks of four rounds, untraced,
    * traced, traced, untraced: rounds keep getting faster as the JIT
    * warms, and this order cancels a steady trend out of the tracing
    * overhead. */
  private def rounds(seconds: Double)(body: => Unit): Unit = {
    if (c.trace) timedPhase("discard", traceIt = false)(body)
    val t0 = System.nanoTime()
    var n = 0
    def more = secs(t0, System.nanoTime()) < seconds || n < 2 || (c.trace && n % 4 != 0)
    do {
      timedPhase("round", traceIt = c.trace && (n % 4 == 1 || n % 4 == 2))(body)
      n += 1
    } while (more)
  }

  // ------------------------------------------------------------------ run

  def run(): Unit = {
    new File(c.work).mkdirs()
    // Set-up, counted from JVM start: a session plus one warm-up pass over
    // the workload's operations into the noop sink, as the timed section
    // runs them. For the store workload this pass is the cold phase: each
    // store query's first call builds its store; the delta steps run once
    // too. The set-up is made once: a second one in the same JVM would
    // find JIT and codegen warm and time less than any user's set-up.
    spark = session()
    val created = System.nanoTime()
    val dir = c.data
    val deltaRoot = s"${c.work}/stores/delta"
    c.workload match {
      case "analytics_sql" => analyticsRound(dir, "warm")
      case _ => storeRound(dir); deltaSteps(dir, deltaRoot)
    }
    Dedup.clearSharedCache()
    out("setup") = Map("create_s" -> secs(jvmStartNs, created), "warmup_s" -> secs(created, System.nanoTime()))

    if (c.trace) tracer = Tracer.install(spark, c.data)
    c.workload match {
      case "analytics_sql" => rounds(c.seconds)(analyticsRound(dir, "timed"))
      case _ =>
        rounds(c.seconds)(storeRound(dir))
        timedPhase("delta", traceIt = false)(deltaSteps(dir, deltaRoot))
    }
    out("rounds") = roundWalls.toSeq
    out("heap_peak_mb") = heapPeak / 1048576.0
    out("export") = exportStats.toSeq
    if (c.workload == "store_lifecycle") {
      val (bytes, files) = dirBytes(new File(s"${c.work}/stores"))
      out("store_bytes") = bytes
      out("store_files") = files
    }

    // The check step, untimed: each DataFrame the last timed round
    // returned (store queries served from their warm stores) is
    // materialised once more and its full result kept for the checker.
    phase = "check"
    resultDir = Some(s"${c.work}/results")
    lastResults.toSeq.filter(r => order.contains(r._1)).foreach { case (name, df) => op(name)(df) }
    resultDir = None
    dumpForCheck()
    out("ops") = ops.toSeq.map(o => Map("name" -> o.name, "phase" -> o.phase, "round" -> o.round,
      "latency_s" -> o.latencyS, "ok" -> o.ok))
    if (c.trace) {
      out("trace") = TraceReport(traced.toSeq, tracer, c.cpus, persistedPeak)
      out("functions") = functionRates()
      writeSpans()
    }
    spark.stop()
    Json.write(new File(c.work, "run.json"), out)
  }

  // ---------------------------------------------------------------- check

  /** Writes what run.py's checker compares beyond the check step's results:
    * the oracle SQL, the Derby read-back of the last round's export, and for the store
    * workload stores rebuilt from scratch for the absorbed batch. */
  private def dumpForCheck(): Unit = {
    val res = s"${c.work}/results"
    def dump(name: String, df: => DataFrame): Unit =
      try df.write.mode("overwrite").parquet(s"$res/$name")
      catch { case e: Throwable => System.err.println(s"[graftbench] dump of $name failed: $e") }
    c.workload match {
      case "analytics_sql" =>
        Reference.foreach { q =>
          dump(s"readback:$q",
            Sinks.readJdbc(spark, s"jdbc:derby:${c.work}/derby/timed", s"EXP_${q.toUpperCase}"))
        }
      case "store_lifecycle" =>
        val root = s"${c.work}/stores"
        Stores.foreach(k => build(k, c.data, s"$root/rebuilt/$k", NextBatch))
        dump("absorbed_profile", CorpusProfile.read(spark, s"$root/delta/corpus_profile"))
        dump("rebuilt_profile", CorpusProfile.read(spark, s"$root/rebuilt/corpus_profile"))
      case _ =>
    }
    Json.write(new File(c.work, "check.json"), Map(
      "oracles" -> SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) },
      "operations" -> order))
  }

  // --------------------------------------------------------------- trace

  /** Rows per second of each registered `graft_*` function whose
    * arguments the input tables can supply, over its input column (the
    * table repeated 20 times) into the noop sink; median of three. */
  private def functionRates(): Map[String, Double] = {
    val reps = spark.range(20).toDF("rep")
    val text = spark.read.parquet(s"${c.data}/documents.parquet")
      .select(col("doc_id"), col("source"), col("text")).crossJoin(reps).persist()
    // embeddings quantized to integer thousandths, graft's vector form
    val vec = spark.read.parquet(s"${c.data}/embeddings.parquet")
      .select(col("label"),
        transform(col("embedding"), x => functions.round(x * 1000).cast("long")).as("qv"))
      .crossJoin(reps).persist()
    val nText = text.count()
    val nVec = vec.count()
    def f(name: String, args: org.apache.spark.sql.Column*) = call_function(name, args: _*)
    val t = col("text")
    val q = col("qv")
    val cases: Seq[(String, Long, () => DataFrame)] = Seq(
      ("graft_simhash", nText, () => text.select(f("graft_simhash", t))),
      ("graft_minhash", nText, () => text.select(f("graft_minhash", t))),
      ("graft_grams", nText, () => text.select(f("graft_grams", t))),
      ("graft_grams_roll", nText, () => text.select(f("graft_grams_roll", t))),
      ("graft_winnow", nText, () => text.select(f("graft_winnow", t))),
      ("graft_deflate_len", nText, () => text.select(f("graft_deflate_len", t))),
      ("graft_char_grams", nText, () => text.select(f("graft_char_grams", t, lit(5)))),
      ("graft_char_grams_hash", nText, () => text.select(f("graft_char_grams_hash", t, lit(8), lit(4)))),
      ("graft_char_trigram_buckets", nText, () => text.select(f("graft_char_trigram_buckets", t))),
      ("graft_collect_capped", nText,
        () => text.groupBy("source").agg(f("graft_collect_capped", col("doc_id"), lit(20)))),
      ("graft_dot", nVec, () => vec.select(f("graft_dot", q, q))),
      ("graft_lsh_buckets", nVec, () => vec.select(f("graft_lsh_buckets", q))),
      ("graft_lsh_probes", nVec, () => vec.select(f("graft_lsh_probes", q))),
      ("graft_vec_sum", nVec, () => vec.groupBy("label").agg(f("graft_vec_sum", q))),
      ("graft_vec_min", nVec, () => vec.groupBy("label").agg(f("graft_vec_min", q))))
    val rates = cases.map { case (name, rows, df) =>
      val times = (0 until 4).map { _ =>
        val t0 = System.nanoTime()
        df().write.format("noop").mode("overwrite").save()
        secs(t0, System.nanoTime())
      }.drop(1).sorted
      name -> rows / times(1)
    }.toMap
    text.unpersist()
    vec.unpersist()
    rates
  }

  /** Every traced span, written once at the end of the run. */
  private def writeSpans(): Unit = {
    val spans = traced.toSeq.map { o =>
      Map("op" -> o.id, "name" -> o.name, "round" -> o.round, "start_ns" -> o.start,
        "call_end_ns" -> o.callEnd, "end_ns" -> o.end,
        "jobs" -> o.jobs.toSeq.map { case (id, (s, e)) =>
          Map("job" -> id, "parent" -> o.id, "start_ns" -> s, "end_ns" -> e,
            "stages" -> o.stages.toSeq.filter(_._2._1 == id).map { case ((sid, att), (_, ss, se)) =>
              Map("stage" -> sid, "attempt" -> att, "parent" -> id, "start_ns" -> ss, "end_ns" -> se)
            })
        },
        "counters" -> o.counters.toMap)
    }
    Json.write(new File(c.work, "trace.json"), Map("spans" -> spans))
  }

  private def dirBytes(f: File): (Long, Long) =
    if (!f.exists) (0L, 0L)
    else if (f.isFile) (f.length, 1L)
    else Option(f.listFiles).toSeq.flatten.map(dirBytes).foldLeft((0L, 0L)) {
      case ((b, n), (b2, n2)) => (b + b2, n + n2)
    }
}

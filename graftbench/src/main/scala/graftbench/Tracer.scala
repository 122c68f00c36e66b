package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer spans and counters of one traced operation. Times are on the
  * harness's `System.nanoTime` clock; Spark's millisecond event times are
  * mapped onto it. */
final class OpTrace(val id: Int, val name: String, val round: Int) {
  var start = 0L
  var callEnd = 0L
  var end = 0L
  /** job id -> (start, end) */
  val jobs = mutable.LinkedHashMap[Int, (Long, Long)]()
  /** stage attempt -> (job id, submitted, completed) */
  val stages = mutable.LinkedHashMap[(Int, Int), (Int, Long, Long)]()
  /** task result bytes per job, to leave the sink's job out of collects */
  val resultBytesByJob = mutable.Map[Int, Long]().withDefaultValue(0L)
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  /** cached-frame builders this operation's plans read */
  val cacheReads = mutable.Set[Int]()
  var corpusScans = 0
}

/** Records spans and counters for traced operations from Spark's own
  * listener and query-execution callbacks. Nothing here reaches inside
  * graft: jobs, stages and tasks come from the scheduler's events, the
  * planning phases from `QueryExecution.tracker`, and cache and scan use
  * from the executed physical plans.
  *
  * Attribution: the harness sets `current` before an operation and
  * drains the listener bus after it, so every event of an operation is
  * handled while that operation is current. */
final class Tracer(dataDir: String)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs
  private val dataRoot = new java.io.File(dataDir).getCanonicalFile.toURI.getPath.stripSuffix("/")

  @volatile private var current: OpTrace = null
  private val stageJob = mutable.Map[Int, Int]()
  /** identity of every cached-frame builder seen so far */
  private val seenBuilders = mutable.Set[Int]()

  def begin(op: OpTrace): Unit = synchronized { current = op }
  def finish(): Unit = synchronized { current = null }

  private def withOp(f: OpTrace => Unit): Unit = synchronized {
    if (current != null) f(current)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = withOp { op =>
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    op.jobs(e.jobId) = (ns(e.time), 0L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = withOp { op =>
    op.jobs.get(e.jobId).foreach { case (s, _) => op.jobs(e.jobId) = (s, ns(e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = withOp { op =>
    val i = e.stageInfo
    val job = stageJob.getOrElse(i.stageId, -1)
    for (s <- i.submissionTime; c <- i.completionTime)
      op.stages((i.stageId, i.attemptNumber())) = (job, ns(s), ns(c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withOp { op =>
    val m = e.taskMetrics
    val c = op.counters
    c("tasks") += 1
    if (m != null) {
      c("run_ms") += m.executorRunTime
      c("cpu_ns") += m.executorCpuTime
      c("gc_ms") += m.jvmGCTime
      c("overhead_ms") += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      c("bytes_read") += m.inputMetrics.bytesRead
      c("records_read") += m.inputMetrics.recordsRead
      c("shuffle_write") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read") += m.shuffleReadMetrics.totalBytesRead
      c("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      c("spill") += m.memoryBytesSpilled + m.diskBytesSpilled
      op.resultBytesByJob(stageJob.getOrElse(e.stageId, -1)) += m.resultSize
    }
  }

  private def phases(qe: QueryExecution): Unit = withOp { op =>
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      p.get(k).foreach(s => op.counters(s"phase_$k") += s.durationMs)
    }
    val plan: SparkPlan = qe.executedPlan
    collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }.foreach { s =>
      op.cacheReads += System.identityHashCode(s.relation.cacheBuilder)
    }
    op.corpusScans += collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      .count(_.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(dataRoot)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Cache reads of `op` split into frames first read here (built by this
    * operation) and frames an earlier operation already persisted. */
  def cacheUse(op: OpTrace): (Int, Int) = synchronized {
    val fresh = op.cacheReads.count(seenBuilders.add)
    (fresh, op.cacheReads.size - fresh)
  }
}

object Tracer {
  def install(spark: SparkSession, dataDir: String): Tracer = {
    val t = new Tracer(dataDir)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Length of the union of `spans`, each clipped to [lo, hi]. */
  def covered(spans: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    c.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }
}

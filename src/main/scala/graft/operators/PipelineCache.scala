package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run-scoped cache of shared pipeline frames, keyed by (session, dir,
  * tag) and stamped with the source table's [[Store.stamp]] (each file's
  * relative path, length and mtime, listed through the Hadoop
  * FileSystem). Shared by [[Dedup]]'s candidate-pair pipelines
  * and [[Similarity.annIvf]]'s query-sample frame.
  *
  * Lifecycle/staleness: if the source table changes on disk, the next
  * call sees a different stamp, unpersists the stale frame and recomputes
  * — consuming operators never serve results older than their input.
  * This matters beyond the obvious: Spark's CacheManager matches cached
  * plans by path equality, so a bare `.persist` of a re-read path would
  * silently substitute the OLD cached data into a NEW plan after an
  * in-place rewrite. The explicit unpersist-on-stamp-change here is what
  * defeats that.
  *
  * Known race, accepted for the run-scoped single-driver use this cache
  * serves: the stale frame is unpersisted with `blocking = false`, so a
  * query ALREADY mid-execution against its InMemoryRelation when the
  * stamp flips can have evicted partitions recompute from lineage over
  * the NEW file contents and observe mixed old/new data. The contract is
  * therefore: an in-place rewrite concurrent with a running consumer
  * yields undefined rows for that one in-flight query; every query
  * STARTED after the rewrite sees a consistent fresh frame. Callers that
  * rewrite inputs while queries are executing need their own fencing.
  *
  * One entry per (session, dir, tag) is held at a time
  * (replacement evicts), and a context-shutdown listener drops every
  * entry for a stopping session, so no persisted frame or session ref
  * outlives its SparkContext. [[clear]] releases everything eagerly
  * (Bench does, between timing passes, so shared pipeline cost stays
  * visible exactly once per pass). Every build and hit goes to
  * [[Record]]. */
private[graft] object PipelineCache {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), (String, DataFrame)]()

  private val values =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), (String, Any)]()

  private val cleanupHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  private def hookCleanup(s: SparkSession): Unit =
    if (cleanupHooked.add(s))
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          cache.keySet.removeIf(_._1 eq s)
          values.keySet.removeIf(_._1 eq s)
          locks.keySet.removeIf(_._1 eq s)
          cleanupHooked.remove(s)
        }
      })

  /** One lock object per cache key, so builds for DISTINCT tags run
    * concurrently while same-key callers serialize. Entries are tiny
    * (an Object per (session, dir, tag)) and are dropped with the
    * session by the cleanup listener. */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Object]()

  /** Build-or-reuse the frame for `tag`, persisted MEMORY_AND_DISK,
    * stamped against `table` (e.g. "documents.parquet") under `dir`.
    *
    * The critical section is a PER-KEY reentrant object monitor,
    * deliberately NOT `ConcurrentHashMap.compute`: a build lambda may
    * itself call [[cached]] for a frame it composes over (packIdsRaw's
    * build reads the cached BPE merge table; spanExcise's regions build
    * reads the cached gram frame), and a nested `compute` on the same
    * map throws `IllegalStateException: Recursive update` whenever the
    * two keys happen to land in one hash bin — a PROBABILISTIC driver
    * crash keyed on the session's identity hash, observed live in a
    * ScaleProbe run (round 10). Round 10 fixed that with ONE global
    * monitor; this round narrows it to per-key locks so a build that
    * runs its own bounded driver actions (bpeTrain's per-round argmax)
    * no longer stalls every other thread needing an UNRELATED cached
    * frame. Nested builds take the inner key's lock while holding the
    * outer's — deadlock-free because build nesting follows the frame
    * DAG (composite frames read base frames, never the reverse), so
    * lock order has no cycle; a same-key nested call re-enters its own
    * monitor. Stamp still read inside the critical section: reading it
    * outside would let a concurrent rewrite install a fresh frame under
    * an outdated stamp and thrash the next caller into a rebuild. */
  def cached(tag: String, s: SparkSession, dir: String, table: String)(
      build: => DataFrame): DataFrame = {
    hookCleanup(s)
    val key = (s, dir, tag)
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val stamp = Store.stamp(s, dir, table)
      val cur = cache.get(key)
      if (cur != null && cur._1 == stamp) { Record.hit(tag); cur._2 }
      else {
        if (cur != null) cur._2.unpersist(blocking = false)
        val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cache.put(key, (stamp, df))
        Record.built(tag)
        df
      }
    }
  }

  /** A FRESH cached frame for `tag` if one exists — no build, no
    * eviction (a stale entry is left for the next [[cached]] call to
    * replace). Lets an operator reuse an index another query already
    * paid for, falling back to its own cheaper-than-full plan on miss
    * ([[CorpusOps.dedupIncremental]] does exactly this with the ngram
    * pair frame). */
  def peek(tag: String, s: SparkSession, dir: String, table: String): Option[DataFrame] =
    Option(cache.get((s, dir, tag))).collect {
      case (stamp, df) if stamp == Store.stamp(s, dir, table) => Record.hit(tag); df
    }

  /** Driver-side VALUE twin of [[cached]] (r18): memoizes a bounded
    * derived model (e.g. the flat PQ codebook literal) under the same
    * (session, dir, tag) key, stamp check and per-key lock discipline —
    * without it each consumer re-collects the same bounded frame once
    * per call (one job + plan each). Values must be bounded by
    * construction (model literals, never corpus rows); dropped by
    * [[clear]] and at session end exactly like the frames, so nothing
    * is memoized across bench passes or past a source rewrite. */
  def cachedValue[T](tag: String, s: SparkSession, dir: String, table: String)(
      build: => T): T = {
    hookCleanup(s)
    val key = (s, dir, tag)
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val stamp = Store.stamp(s, dir, table)
      val cur = values.get(key)
      if (cur != null && cur._1 == stamp) { Record.hit(tag); cur._2.asInstanceOf[T] }
      else {
        val v = build
        values.put(key, (stamp, v))
        Record.built(tag)
        v
      }
    }
  }

  /** Unpersist and forget every shared frame (all sessions/dirs/tags). */
  def clear(): Unit = {
    cache.forEach((_, v) => v._2.unpersist(blocking = false))
    cache.clear()
    values.clear()
  }
}

package graft.operators

import scala.collection.mutable

/** Which shared caches ([[PipelineCache]] tags) and persisted stores
  * ([[Store]], named `store:<census name>`) the running query built or
  * hit. Recording happens only on a thread that opened a record with
  * [[during]] (`Bench` does, around each timed query); with none open,
  * [[built]] and [[hit]] cost one thread-local read and keep nothing. */
private[graft] object Record {

  final class Log {
    val built: mutable.LinkedHashSet[String] = mutable.LinkedHashSet.empty
    val hit: mutable.LinkedHashSet[String] = mutable.LinkedHashSet.empty
  }

  private val open = new ThreadLocal[Log]

  def built(name: String): Unit = { val l = open.get; if (l != null) l.built += name }

  def hit(name: String): Unit = { val l = open.get; if (l != null) l.hit += name }

  /** Runs `body` with `log` open on this thread. */
  def during[T](log: Log)(body: => T): T = {
    open.set(log)
    try body
    finally open.remove()
  }
}

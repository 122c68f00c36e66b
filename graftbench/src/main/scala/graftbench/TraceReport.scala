package graftbench

/** Per-layer metrics of the traced rounds, summed over every traced
  * operation and divided by the number of traced rounds.
  *
  * Self times partition each operation's wall time: the operator call
  * and the materialisation split the operation; Spark jobs nest in
  * whichever of the two started them; stages nest in their job. A layer's
  * self time is its spans' union minus the part its children's union
  * covers, so the self times add up to the wall time by construction;
  * `trace.reconcile_err` guards that. */
object TraceReport {
  def apply(ops: Seq[OpTrace], tracer: Tracer, cpus: Int, persistedPeak: Long): Map[String, Double] = {
    val rounds = math.max(1, ops.map(_.round).distinct.size)
    val m = scala.collection.mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    var readers, hits = 0
    ops.foreach { o =>
      val c = o.counters
      val wall = o.end - o.start
      val jobs = o.jobs.toSeq.map { case (id, (s, e)) => (id, s, if (e == 0L) o.end else e) }
      val (inCall, inMat) = jobs.partition(_._2 < o.callEnd)
      def spans(js: Seq[(Int, Long, Long)]) = js.map(j => (j._2, j._3))
      // Union lengths, so concurrent jobs or stages are counted once. A
      // stage runs inside a job, so the stages' union within a span is the
      // part of its jobs' union that stages cover.
      val stageSpans = o.stages.values.map(x => (x._2, x._3))
      var callSelf, matSelf, jobSelf, stageSelf = 0L
      Seq((inCall, o.start, o.callEnd), (inMat, o.callEnd, o.end)).zipWithIndex.foreach {
        case ((js, lo, hi), i) =>
          val jobCov = Tracer.covered(spans(js), lo, hi)
          val stageCov = math.min(jobCov, Tracer.covered(stageSpans, lo, hi))
          if (i == 0) callSelf = (hi - lo) - jobCov else matSelf = (hi - lo) - jobCov
          jobSelf += jobCov - stageCov
          stageSelf += stageCov
      }
      val idle = wall - Tracer.covered(spans(jobs), o.start, o.end)
      // the last job of the materialisation is the sink's own write job
      val sinkJob = if (inMat.nonEmpty) Some(inMat.map(_._1).max) else None
      val (built, hit) = tracer.cacheUse(o)
      if (o.cacheReads.nonEmpty) { readers += 1; if (hit > 0) hits += 1 }
      m("trace.wall_s") += wall / 1e9
      m("trace.self.call_s") += callSelf / 1e9
      m("trace.self.materialise_s") += matSelf / 1e9
      m("trace.self.job_s") += jobSelf / 1e9
      m("trace.self.stage_s") += stageSelf / 1e9
      m("operators.call_s") += (o.callEnd - o.start) / 1e9
      m("operators.eager_jobs") += inCall.size
      m("planning.analysis_s") += c("phase_analysis") / 1e3
      m("planning.optimization_s") += c("phase_optimization") / 1e3
      m("planning.physical_s") += c("phase_planning") / 1e3
      m("dispatch.jobs") += jobs.size
      m("dispatch.stages") += o.stages.size
      m("dispatch.tasks") += c("tasks")
      m("dispatch.idle_s") += idle / 1e9
      m("dispatch.task_overhead_s") += c("overhead_ms") / 1e3
      m("executor.run_s") += c("run_ms") / 1e3
      m("executor.cpu_s") += c("cpu_ns") / 1e9
      m("executor.gc_s") += c("gc_ms") / 1e3
      m("sources.bytes_read") += c("bytes_read")
      m("sources.records_read") += c("records_read")
      m("shuffle.write_bytes") += c("shuffle_write")
      m("shuffle.read_bytes") += c("shuffle_read")
      m("shuffle.fetch_wait_s") += c("fetch_wait_ms") / 1e3
      m("shuffle.spill_bytes") += c("spill")
      m("collect.result_bytes") += o.resultBytesByJob.collect {
        case (job, b) if !sinkJob.contains(job) => b
      }.sum
      m("cache.builds") += built
      m("stores.corpus_scans") += o.corpusScans
    }
    val perRound = m.map { case (k, v) => k -> v / rounds }.toMap
    val wall = m("trace.wall_s")
    val selfSum = Seq("call_s", "materialise_s", "job_s", "stage_s").map(k => m(s"trace.self.$k")).sum
    perRound ++ Map(
      "cache.hits" -> hits.toDouble / rounds,
      "cache.hit_ratio" -> (if (readers > 0) hits.toDouble / readers else 0.0),
      "cache.persisted_bytes_peak" -> persistedPeak.toDouble,
      "executor.slot_busy_share" -> (if (wall > 0) m("executor.run_s") / (wall * cpus) else 0.0),
      "trace.reconcile_err" -> (if (wall > 0) math.abs(selfSum - wall) / wall else 0.0),
      "trace.rounds" -> rounds.toDouble,
      "trace.operations" -> ops.size.toDouble / rounds)
  }
}

/** Minimal JSON writer for the run's raw records. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
        case ch => ch.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case x => render(x.toString)
  }

  def write(f: java.io.File, v: Any): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(render(v)) finally w.close()
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-query Spark-job/stage census — the floor-discipline feedback loop:
  * on local mode every job pays a fixed scheduling/collect round-trip, so
  * a sub-second query's wall clock is often `jobs × floor` rather than
  * compute. Runs each named query (default: the flagged floor class)
  * twice (cold+warm) against a dir and prints per-run jobs, stages, tasks
  * and seconds, so "cut driver round-trips" has a number attached.
  *
  * Usage: `runMain graft.JobProbe [sfDir] [q1,q2,...]`. Not part of the
  * driver contract — a design-verification tool like [[ScaleProbe]].
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args
      .lift(1)
      .map(_.split(',').toSeq)
      .getOrElse(
        Seq("train_epoch_plan", "sql_supplier_rev", "win_ntile", "dedup_incremental_idx"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val t00 = System.nanoTime()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        if (sys.env.contains("GRAFT_JOBLOG"))
          println(f"  [job @${(System.nanoTime() - t00) / 1e9}%8.3fs] " +
            j.stageInfos.map(si => s"${si.name} (${si.numTasks}t)").mkString(" | "))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += sc.stageInfo.numTasks
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Int, Int, Int, Double) = {
      Thread.sleep(200) // let straggling listener events drain
      jobs = 0; stages = 0; tasks = 0
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let straggling listener events drain
      (jobs, stages, tasks, dt)
    }

    for (name <- names) {
      SparkEntry.queries.get(name) match {
        case None => println(s"$name: UNKNOWN query")
        case Some(fn) =>
          if (sys.env.contains("GRAFT_EXPLAIN"))
            println(s"=== $name ===\n" +
              fn(spark, sfDir).queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode))
          val cold = once(fn)
          val warm = once(fn)
          def fmt(r: (Int, Int, Int, Double)) =
            f"jobs=${r._1}%3d stages=${r._2}%3d tasks=${r._3}%5d t=${r._4}%6.2fs"
          println(f"$name%-24s cold: ${fmt(cold)}   warm: ${fmt(warm)}")
      }
    }
    spark.stop()
  }
}

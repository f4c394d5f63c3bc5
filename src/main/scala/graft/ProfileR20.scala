package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** r20 optimization-round profiling harness (measurement infra, same
  * standing as Bench/ScaleProbe): runs named queries and splits each
  * wall-clock figure into executor-side job time vs driver-side gap
  * (planning / analysis / scheduling between jobs), plus job count,
  * stage count, task count and cumulative task time. The driver gap is
  * wall − Σ(job wall), i.e. time no Spark job was running — the
  * guide-§7.3 "driver is doing something single-threaded" share; for a
  * query whose data is sf0.1-tiny the split tells whether to optimize
  * the plan (executor) or the per-query fixed cost (driver).
  *
  * Usage: runMain graft.ProfileR20 <sfDir> <q1,q2,...> [runs]
  * One JSON line per query (min-wall run's metrics).
  */
object ProfileR20 {

  private class JobClock extends SparkListener {
    private var jobStart = Map.empty[Int, Long]
    var jobWallNs = 0L
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var taskTimeMs = 0L
    private var outstanding = 0
    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized {
        jobStart += e.jobId -> System.nanoTime(); outstanding += 1
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      // ADVICE r20: only decrement for jobs whose start we recorded —
      // otherwise ends of pre-reset jobs drive the counter negative and
      // drain() returns while jobs are still running
      jobStart.get(e.jobId).foreach { t0 =>
        jobWallNs += System.nanoTime() - t0; jobs += 1
        outstanding -= 1
      }
      jobStart -= e.jobId
      notifyAll()
    }
    val detail = sys.env.get("SPARK_GRAFT_PROFILE_DETAIL").contains("1")
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        tasks += e.stageInfo.numTasks
        val m = e.stageInfo.taskMetrics
        if (m != null) taskTimeMs += m.executorRunTime
        if (detail && m != null && m.executorRunTime > 200)
          System.err.println(
            f"[stage ${e.stageInfo.stageId}%4d] tasks=${e.stageInfo.numTasks}%3d runMs=${m.executorRunTime}%6d cpuMs=${m.executorCpuTime / 1000000}%6d gcMs=${m.jvmGCTime}%5d desMs=${m.executorDeserializeTime}%5d fetchMs=${m.shuffleReadMetrics.fetchWaitTime}%4d shW=${m.shuffleWriteMetrics.bytesWritten}%9d shR=${m.shuffleReadMetrics.totalBytesRead}%9d ${e.stageInfo.name.take(120)}")
      }
    def outstandingJobs: Int = synchronized(outstanding)
    def reset(): Unit = synchronized {
      jobStart = Map.empty; jobWallNs = 0; jobs = 0; stages = 0
      tasks = 0; taskTimeMs = 0; outstanding = 0 // ADVICE r20
    }
    def drain(timeoutMs: Long = 10000): Unit = synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (outstanding > 0 && System.currentTimeMillis() < deadline)
        wait(200)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // A/B harness: SPARK_GRAFT_EXTRA_CONF="k1=v1;k2=v2" applies extra
    // session confs so a candidate setting can be measured without a
    // code edit per experiment
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      }.toMap
    val spark = SparkEntry.session(cpus, "graft-profile", extra)
    spark.sparkContext.setLogLevel("WARN")
    val clock = new JobClock
    spark.sparkContext.addSparkListener(clock)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val byName = SparkEntry.queries
    val sink = sys.env.get("SPARK_GRAFT_BENCH_SINK")
    names.foreach { name =>
      val fn = byName.getOrElse(name,
        sys.error(s"unknown query $name"))
      // warmup (codegen/JIT) — untimed, same protocol as Bench
      try {
        val df = fn(spark, sfDir)
        if (sink.contains("noop"))
          df.write.mode("overwrite").format("noop").save()
        else df.count(): Unit
      } catch { case e: Throwable => System.err.println(s"$name warmup: $e") }
      val best = (1 to runs).map { _ =>
        clock.drain(); clock.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        if (sink.contains("noop"))
          df.write.mode("overwrite").format("noop").save()
        else df.count(): Unit
        val wall = (System.nanoTime() - t0) / 1e9
        clock.drain()
        (wall, clock.jobWallNs / 1e9, clock.jobs, clock.stages,
          clock.tasks, clock.taskTimeMs)
      }.minBy(_._1)
      val (wall, jobWall, jobs, stages, tasks, taskMs) = best
      println(f"""{"q":"$name","wall":$wall%.3f,"job_wall":$jobWall%.3f,"driver_gap":${wall - jobWall}%.3f,"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_time_ms":$taskMs}""")
    }
    spark.stop()
  }
}

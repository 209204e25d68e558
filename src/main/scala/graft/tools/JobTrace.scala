package graft.tools

/** Per-JOB timeline for one catalog query — the attribution tool for
  * NEAR-SERIAL queries (wall ≫ cpu_s/threads with a many-jobs `jobs`
  * channel in bench_detail.json): prints every job the rep ran with its
  * wall window, gap since the previous job's end (pure driver time:
  * planning, broadcast builds, collect handling), stage/task counts and
  * the first line of its call site. Usage:
  *   runMain graft.tools.JobTrace <sfDir> <reps> <queryName>
  */
object JobTrace {

  final case class J(id: Int, start: Long, var end: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, desc: String = "")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val name = args(2)
    val spark = graft.core.GraftSession.harness()
    val fn = graft.SparkEntry.queries(name)
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // warm once: fixture seeding + codegen outside the traced rep
    try fn(spark, sfDir).count() catch { case _: Throwable => () }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .map(_.getProperty("callSite.short", "")).getOrElse("")
        jobs.put(e.jobId, J(e.jobId, e.time,
          stages = e.stageInfos.size,
          tasks = e.stageInfos.map(_.numTasks).sum, desc = site))
        order.add(e.jobId): Unit
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    })
    (1 to reps).foreach { r =>
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val js = order.asScala.toSeq.flatMap(id => Option(jobs.get(id)))
      var prevEnd = 0L
      println(f"== $name rep $r wall=$wall%.3f s, ${js.size} jobs ==")
      js.foreach { j =>
        val gap = if (prevEnd == 0L) 0L else math.max(0L, j.start - prevEnd)
        prevEnd = math.max(prevEnd, math.max(j.end, j.start))
        val dur = if (j.end >= j.start) f"${(j.end - j.start) / 1000.0}%7.3f s"
          else "  (no end)"
        println(f"  job ${j.id}%4d  $dur  " +
          f"gap ${gap / 1000.0}%6.3f s  stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc}")
      }
      // covered time = the union of job intervals (concurrent jobs — a
      // broadcast build overlapping the main job — must not double-count
      // into the serial attribution; a lost end event contributes nothing)
      val ivs = js.filter(j => j.end > j.start)
        .map(j => (j.start, j.end)).sortBy(_._1)
      var (covMs, covEnd) = (0L, 0L)
      ivs.foreach { case (s, e) =>
        covMs += math.max(0L, e - math.max(s, covEnd))
        covEnd = math.max(covEnd, e)
      }
      val jobS = covMs / 1000.0
      val gapS = math.max(0.0, wall - jobS)
      println(f"  jobs (interval union) $jobS%.3f s + driver gaps $gapS%.3f s")
    }
    spark.stop()
  }
}

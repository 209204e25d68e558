package graft.tools

/** Within-session rep-stability harness: run the named catalog queries N
  * times back-to-back in ONE session and print each rep's seconds — the
  * measurement that exposed the round-7 pin leak (q81 reps ramping
  * 1.5 s → 13 s in `bench_detail.json` while min-of-reps hid it).
  * Usage: RepTimer <sfDir> <comma-query-names> [reps=5]
  *
  * Deliberately NOT built on [[graft.Bench.repBlock]]: this tool's value
  * is its A/B knobs — `SPARK_GRAFT_REPTIMER_RELEASE=0` reproduces the
  * pre-round-9 no-release lifecycle, the pressure knob emulates a
  * neighbor's resident blocks, the jobs knob prints per-job durations —
  * which are exactly the behaviors repBlock's fixed lifecycle forbids.
  * The release/broadcast-drop steps mirror repBlock's discipline; a
  * change to the rep lifecycle lands in BOTH (BenchDrainSpec gates the
  * Bench side). */
object RepTimer {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val reps = if (args.length > 2) args(2).toInt else 5
    val spark = graft.core.GraftSession.harness()
    graft.core.GraftSession.prepare(spark)
    // release=0 reproduces the pre-round-9 harness (no post-rep release)
    // for A/B attribution of rep ramps to dead-pin storage pressure
    val doRelease = sys.env.get("SPARK_GRAFT_REPTIMER_RELEASE").forall(_ == "1")
    // optional synthetic storage-pressure neighbor: pin ~N MB of blocks
    // for the whole run (SPARK_GRAFT_REPTIMER_PRESSURE_MB), emulating a
    // prior query's not-yet-GC'd weak-ref'd blocks, to test the
    // eviction-churn hypothesis for spike reps
    val pressureMb = sys.env.get("SPARK_GRAFT_REPTIMER_PRESSURE_MB").map(_.toInt).getOrElse(0)
    val pressure = if (pressureMb <= 0) None else Some {
      val rows = pressureMb.toLong * 1024 * 1024 / 1050
      val df = spark.range(rows).selectExpr("id", "repeat('x', 1024) AS pad")
      val pinned = graft.core.GraftSession.pin(df)
      println(f"pressure: pinned ~$pressureMb MB " +
        f"(storage used ${org.apache.spark.GraftSparkBridge.storageMemoryUsed >> 20} MB " +
        f"of ${org.apache.spark.GraftSparkBridge.maxStorageMemory >> 20} MB)")
      pinned
    }
    // per-rep job-duration breakdown (SPARK_GRAFT_REPTIMER_JOBS=1): a
    // multi-job operator (groupedPrefixScan: HLL guard, sample+persist
    // materialization, offsets collect, final count) that warms slowly
    // shows WHICH job's duration is amortizing across reps
    val printJobs = sys.env.get("SPARK_GRAFT_REPTIMER_JOBS").contains("1")
    val jobMs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    if (printJobs) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobMs.put(e.jobId, (e.time, -1L)): Unit
        }
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobMs.get(e.jobId)).foreach { case (s, _) =>
            jobMs.put(e.jobId, (s, e.time)): Unit
          }
        }
      })
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val stats = (1 to reps).map { rep =>
        import org.apache.spark.GraftSparkBridge
        if (printJobs) jobMs.clear()
        val gc0 = graft.Bench.gcMillis()
        val cg0 = GraftSparkBridge.codegenCompileCount
        val bc0 = GraftSparkBridge.broadcastIds()
        val host0 = HostStat.snap()
        val t0 = System.nanoTime()
        val frame = fn(spark, sfDir)
        frame.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val hostD = HostStat.delta(host0, HostStat.snap())
        val gcd = graft.Bench.gcMillis() - gc0
        if (doRelease) {
          graft.core.GraftSession.release(frame, blocking = true)
          // drop this rep's broadcasts (the Bench.repBlock discipline —
          // release=0 reproduces the leaking pre-round-12 lifecycle)
          GraftSparkBridge.removeBroadcasts(
            GraftSparkBridge.broadcastIds() -- bc0, blocking = true)
        }
        if (printJobs) {
          GraftSparkBridge.drainListenerBus(spark.sparkContext)
          import scala.jdk.CollectionConverters._
          val durs = jobMs.asScala.toSeq.sortBy(_._1)
            .map { case (_, (s, e)) => if (e < 0) -1L else e - s }
          println(s"  $n rep $rep jobsMs=${durs.mkString("[", ",", "]")}")
        }
        val census = GraftSparkBridge.blockCensus()
        (sec, gcd, spark.sparkContext.getRDDStorageInfo.length,
          GraftSparkBridge.storageMemoryUsed >> 20,
          GraftSparkBridge.codegenCompileCount - cg0, hostD, census)
      }
      println(s"$n: ${stats.map(s => f"${s._1}%.2f").mkString("[", ", ", "]")} " +
        s"swing=${f"${stats.map(_._1).max / stats.map(_._1).min}%.2f"}x " +
        s"gcMs=${stats.map(_._2).mkString("[", ",", "]")} " +
        s"cachedRdds=${stats.map(_._3).mkString("[", ",", "]")} " +
        s"storMb=${stats.map(_._4).mkString("[", ",", "]")} " +
        s"cg=${stats.map(_._5).mkString("[", ",", "]")} " +
        s"cpuS=${stats.map(s => f"${s._6.cpuS}%.2f").mkString("[", ",", "]")} " +
        s"otherS=${stats.map(s => f"${s._6.otherBusyS}%.2f").mkString("[", ",", "]")} " +
        s"stealS=${stats.map(s => f"${s._6.stealS}%.2f").mkString("[", ",", "]")} " +
        s"jitMs=${stats.map(_._6.jitMs).mkString("[", ",", "]")} " +
        s"census=${stats.map(_._7.map { case (k, (c, b)) => s"$k:$c/${b >> 20}MB" }
          .toSeq.sorted.mkString("{", " ", "}")).mkString("[", ", ", "]")}")
    }
    pressure.foreach(p => graft.core.GraftSession.release(p))
    spark.stop()
  }
}

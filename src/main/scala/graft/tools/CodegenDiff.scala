package graft.tools

/** Attribution probe for per-rep codegen recompilation (the round-9 q81
  * bench-spike hunt): build the SAME catalog query twice, dump each run's
  * whole-stage-codegen sources, and report which units' source text
  * changed between builds. Identical text + nonzero compile count would
  * mean cache eviction; differing text means something injects
  * run-unique content into the generated source (and names it).
  * Usage: CodegenDiff <sfDir> <queryName> */
object CodegenDiff {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val spark = graft.core.GraftSession.harness()
    graft.core.GraftSession.prepare(spark)
    val fn = graft.SparkEntry.queries(name)
    def sources(): Seq[String] = {
      val df = fn(spark, sfDir)
      df.count() // materialize so AQE final stages exist
      val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
      // under AQE the top plan is AdaptiveSparkPlanExec; codegen units live
      // in its (post-execution) final plan and inside shuffle query stages
      def unwrap(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            unwrap(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            unwrap(s.plan)
          case other => other +: other.children.flatMap(unwrap)
        }
      val codegen = unwrap(qe.executedPlan).collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          w.doCodeGen()._2.body
      }
      graft.core.GraftSession.release(df)
      codegen
    }
    val a = sources()
    val b = sources()
    println(s"$name: run1 units=${a.size}, run2 units=${b.size}")
    val byHash = (xs: Seq[String]) => xs.map(s => s.hashCode -> s).toMap
    val (ha, hb) = (byHash(a), byHash(b))
    val onlyB = hb.keySet -- ha.keySet
    println(s"units with NEW source text in run2: ${onlyB.size}")
    onlyB.take(2).foreach { h =>
      val s = hb(h)
      // find the closest run-1 source by shared prefix length and print
      // the first divergence, so the unstable token is visible
      val closest = ha.values.maxByOption(t => s.zip(t).takeWhile { case (x, y) => x == y }.size)
      closest.foreach { t =>
        val i = s.zip(t).indexWhere { case (x, y) => x != y }
        if (i >= 0) {
          val from = math.max(0, i - 120)
          println(s"--- divergence at char $i ---")
          println(s"run2: ...${s.slice(from, i + 120)}...")
          println(s"run1: ...${t.slice(from, i + 120)}...")
        }
      }
    }
    spark.stop()
  }
}

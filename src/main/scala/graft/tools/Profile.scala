package graft.tools

/** Repeat-timer for individual catalog queries: min of N hot runs, so
  * Janino/codegen compile and first-touch parquet costs don't masquerade as
  * operator cost. Usage: runMain graft.tools.Profile <sfDir> <reps> [names…]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val names = if (args.length > 2) args.drop(2).toSeq else graft.SparkEntry.queries.keys.toSeq
    val spark = graft.core.GraftSession.harness()
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      try fn(spark, sfDir) catch { case _: Throwable => () } // fixture seed
      // split plan construction+analysis+optimization from execution: a
      // huge expression tree can make the DRIVER the bottleneck. Execute
      // the SAME QueryExecution that was planned (toRdd) — df.count()
      // would build a second QueryExecution and re-plan the whole tree,
      // double-counting driver time and washing out the split.
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val qe = fn(spark, sfDir).queryExecution
        qe.executedPlan // force analysis + optimization + physical planning
        val t1 = System.nanoTime()
        qe.toRdd.count()
        ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      }
      val best = ts.minBy(t => t._1 + t._2)
      println(f"PROFILE $n%-32s min=${ts.map(t => t._1 + t._2).min}%.3f " +
        f"plan=${best._1}%.3f exec=${best._2}%.3f " +
        s"runs=${ts.map(t => f"${t._1 + t._2}%.2f").mkString(",")}")
    }
    spark.stop()
  }
}

package graft.tools

import graft.SparkEntry

/** Micro-bench for iterating on individual queries:
  * runMain graft.tools.QTime <sfDir> <reps> <queryName>...
  * Warm-runs each query once, then reports min of `reps` timed runs.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = graft.core.GraftSession.harness()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try fn(spark, sfDir).count() catch { case e: Throwable => println(s"$name WARM FAIL: $e") }
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"QTIME $name%-28s min=${times.min}%.3f runs=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Media, PhashIndex, RetrievalIndex}

/** Targeted quiet-window repro for the stress SERVE legs (r16 VERDICT
  * items 2-3: phash_serve read 12-14 s on both driver runs vs 0.75 s in
  * r15 with untouched code; bm25_serve entered with no quiet baseline).
  * Builds each index once (untimed, the amortized cost), then runs the
  * exact StressBench serve expression for `SCRATCH_REPS` reps with the
  * full attribution channels (wall, process cpu, sys, other-process busy,
  * steal) and a JFR profile of the slowest + fastest rep, plus one
  * `.explain("formatted")` dump per leg so plan-shape claims are
  * checkable. Not part of any gate (the ScratchIvf convention). */
object ScratchServe {
  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("phash,bm25").split(',').toSet
    val reps = sys.env.getOrElse("SCRATCH_REPS", "7").toInt
    val spark = graft.core.GraftSession.harness()
    graft.core.GraftSession.prepare(spark)
    val dir = StressData.ensure(spark)
    val docs = Tables.load(spark, dir, "documents")
    docs.count()
    def asMedia(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("media", Media.asMedia("payload", "image/stub"))
      .select(col("doc_id"), col("media"))
    val pid = java.lang.ProcessHandle.current().pid()
    def repLoop(label: String, frame: () => org.apache.spark.sql.DataFrame): Unit = {
      frame().explain("formatted")
      val walls = new Array[Double](reps)
      val recs = new Array[Option[jdk.jfr.Recording]](reps)
      (0 until reps).foreach { i =>
        val h0 = HostStat.snap()
        val rec = RepProfiler.start()
        val t0 = System.nanoTime()
        val n = frame().count()
        val w = (System.nanoTime() - t0) / 1e9
        rec.foreach(RepProfiler.stop)
        recs(i) = rec
        walls(i) = w
        val d = HostStat.delta(h0, HostStat.snap())
        println(f"SCRATCH $label rep ${i + 1} wall $w%.3f s rows $n " +
          f"cpu ${d.cpuS}%.2f sys ${d.cpuSysS}%.2f other ${d.otherBusyS}%.2f " +
          f"steal ${d.stealS}%.2f jit_ms ${d.jitMs}")
      }
      val slow = walls.indexOf(walls.max)
      val fast = walls.indexOf(walls.min)
      Seq(slow -> "slow", fast -> "min").foreach { case (i, tag) =>
        recs(i).foreach { r =>
          RepProfiler.dumpWithSummary(r, s"scratch_${label}_rep${i + 1}_$tag")
            .foreach(p => println(s"SCRATCH $label rep ${i + 1} ($tag) -> $p"))
        }
      }
      recs.zipWithIndex.foreach { case (r, i) =>
        if (i != slow && i != fast) r.foreach(RepProfiler.discard)
      }
    }
    // drop each leg's index tree when done: repeated profiling runs were
    // accumulating stress-scale index data in the tmpdir (the ScratchIvf
    // r16-ADVICE class)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    if (which("phash")) {
      val phashPath = s"${System.getProperty("java.io.tmpdir")}/scratch-serve-ph-$pid"
      PhashIndex.build(asMedia(docs), "doc_id", "media", phashPath)
      repLoop("phash_serve", () => PhashIndex.pairsAgainstIndex(
        asMedia(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))),
        "doc_id", "media", phashPath))
      rm(new java.io.File(phashPath))
    }
    if (which("bm25")) {
      val rPath = s"${System.getProperty("java.io.tmpdir")}/scratch-serve-bm-$pid"
      RetrievalIndex.build(docs, "doc_id", "text", rPath)
      repLoop("bm25_serve", () => RetrievalIndex.topK(
        docs.filter(col("doc_id") % 500 === 7), "doc_id", "text", rPath, k = 10))
      rm(new java.io.File(rPath))
    }
    spark.stop()
  }
}

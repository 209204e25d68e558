package graft.tools

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Similarity

/** Phase attribution for buildIvfIndex at stress scale (10x sf0.1
  * hostile corpus): count / codebook train / full build / probe, so
  * (full - train - count) isolates the assignment+partitioned-write
  * tail. The r16 evidence for the widen+fan-by-bucket build change:
  * full build 26-42 s -> 3.3-5.2 s same-host while train stayed
  * 0.3-1.6 s. Not part of any gate. */
object ScratchIvf {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.harness()
    graft.core.GraftSession.prepare(spark)
    val dir = StressData.ensure(spark)
    val emb = Tables.load(spark, dir, "embeddings")
    emb.count()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCRATCH $label%-18s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    (1 to 3).foreach { round =>
      val c = Similarity.normalizedCorpus(emb, "vec_id", "embedding")
      val n = time("corpus_count")(c.count())
      val nl = Similarity.autoNlist(n)
      println(s"SCRATCH nlist $nl n $n")
      time("train_codebook")(Similarity.trainIvfCodebook(c, nl, 3))
      val p = s"${System.getProperty("java.io.tmpdir")}/scratch-ivf-$round-" +
        java.lang.ProcessHandle.current().pid()
      time("full_build")(
        Similarity.buildIvfIndex(emb, p, "vec_id", "embedding"))
      val probe = time("probe")(Similarity.ivfTopKFromIndex(p,
        emb.filter(col("vec_id") < 100), "vec_id", "embedding", k = 10,
        nprobe = 28).count())
      println(s"SCRATCH probe_rows $probe")
      // drop the round's index: repeated profiling runs were accumulating
      // stress-scale index trees in the tmpdir (r16 ADVICE)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(p))
    }
    spark.stop()
  }
}

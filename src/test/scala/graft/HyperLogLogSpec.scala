package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.functions.{hash64, hyper_log_log}

/** Mirrors the reference's precision-band test
  * (`probabilistic/.../HyperLogLogTest.java:70-127`): true cardinality 1234
  * hidden in 50 000 items, estimate within ±5% at default precision 14. */
class HyperLogLogSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("batch estimate within 5% of true cardinality (HyperLogLogTest.java:110-127)") {
    val trueCard = 1234
    val n = 50000
    val rnd = new scala.util.Random(42)
    val values = Seq.fill(n)(rnd.nextInt(trueCard).toLong)
    assert(values.distinct.size == trueCard) // 50k draws cover all 1234 w.h.p.
    val est = values.toDF("v").repartition(8)
      .select(hash64(col("v")).as("h"))
      .agg(hyper_log_log(col("h"), 14).as("e"))
      .head().getLong(0)
    assert(math.abs(est - trueCard).toDouble / trueCard <= 0.05,
      s"estimate $est not within 5% of $trueCard")
  }

  test("partial/final merge across partitions equals single-partition result") {
    val df = (1L to 20000L).toDF("v").select(hash64(col("v")).as("h"))
    val merged = df.repartition(16).agg(hyper_log_log(col("h"), 12)).head().getLong(0)
    val single = df.coalesce(1).agg(hyper_log_log(col("h"), 12)).head().getLong(0)
    assert(merged == single, "sketch merge must be order/partition insensitive")
  }

  test("precision bounds enforced like ProbabilisticAggregations.java:61-63") {
    import graft.functions.hll_sketch
    val df = Seq(1L).toDF("v")
    for (p <- Seq(3, 17)) {
      val e1 = intercept[Exception] {
        df.agg(hyper_log_log(col("v"), p)).collect()
      }
      assert(e1.getMessage.contains(s"hyper_log_log precision must be in [4, 16], got $p"))
      val e2 = intercept[Exception] {
        df.agg(hll_sketch(col("v"), p)).collect()
      }
      assert(e2.getMessage.contains(s"hll_sketch precision must be in [4, 16], got $p"))
    }
  }

  test("hll_sketch + hll_merge == direct hyper_log_log (cross-job mergeability)") {
    import graft.functions.{hll_merge, hll_sketch}
    val df = (1L to 40000L).toDF("v")
      .select((col("v") % 12).as("g"), hash64(col("v")).as("h"))
    for (p <- Seq(4, 12, 14, 16)) {
      val direct = df.agg(hyper_log_log(col("h"), p)).head().getLong(0)
      val merged = df.groupBy("g").agg(hll_sketch(col("h"), p).as("sk"))
        .agg(hll_merge(col("sk"))).head().getLong(0)
      assert(merged == direct,
        s"p=$p: sketch round-trip changed the estimate: $merged vs $direct")
    }
  }

  test("tracks approx_count_distinct on grouped data") {
    val df = (1L to 30000L).toDF("v")
      .select((col("v") % 7).as("g"), hash64(col("v")).as("h"))
    val ours = df.groupBy("g").agg(hyper_log_log(col("h"), 14).as("e"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = df.groupBy("g").agg(countDistinct(col("h")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, c) =>
      assert(math.abs(ours(g) - c).toDouble / c <= 0.05, s"group $g: ${ours(g)} vs $c")
    }
  }
}

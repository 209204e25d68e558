package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.GraftSession
import graft.functions.{hash64, hll_merge, hll_sketch, hyper_log_log}
import graft.queries.Catalog

/** The benchmark's JVM side: runs one workload against the compiled
  * program and writes what it measured, untouched, as one JSON file.
  * `run.py` turns that file into metrics and checks the batch results
  * against DuckDB.
  *
  * Usage: PerfBench --workload W --data DIR --seconds S --trace 0|1
  *          --seed N --out FILE --work DIR --cpus N
  */
object PerfBench {

  final case class Args(workload: String, data: String, seconds: Int, trace: Boolean,
      seed: Long, out: String, work: String, cpus: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m.getOrElse("data", ""), m("seconds").toInt, m("trace") == "1",
      m("seed").toLong, m("out"), m("work"), m("cpus").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = GraftSession.local(args.cpus, "perfbench")
    // keep every micro-batch's progress: the stream workload reads them all
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
    val recorder = if (args.trace) {
      val r = new JobRecorder
      spark.sparkContext.addSparkListener(r)
      Some(r)
    } else None
    val tracer = new Tracer(args.trace, spark.sparkContext)
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("workload", args.workload)
    out.put("jvm_start_us", Long.box(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L))
    try {
      args.workload match {
        case "curation_hll" =>
          new BatchWorkload(spark, args, tracer).run(out)
        case "stream_ingest" =>
          new StreamWorkload(spark, args, tracer).run(out)
        case "train" =>
          // the build's class-data-sharing training run: touch the code
          // paths the workloads load (catalog, parquet, aggregation, streaming)
          val dir = s"${args.work}/train.parquet"
          spark.range(0L, 100000L).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) AS v")
            .write.parquet(dir)
          spark.read.parquet(dir).groupBy("k").agg(sum("v"), countDistinct("id")).collect()
          Catalog.all.size
          new StreamWorkload(spark, args, tracer).warmUp()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      recorder.foreach { r =>
        org.apache.spark.perfbench.SparkBridge.drainListenerBus(spark.sparkContext)
        out.put("spans", Json.arr(tracer.spans.map(s => Json.obj(
          "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_us" -> s.startUs, "end_us" -> s.endUs))))
        out.put("jobs", Json.arr(r.jobs.asScala.toSeq.map(j => Json.obj(
          "id" -> j.id, "span" -> j.span, "start_us" -> j.startUs, "end_us" -> j.endUs,
          "stages" -> Json.arr(j.stages.map(Int.box))))))
        out.put("stages", Json.arr(r.stages.asScala.toSeq.map(s => Json.obj(
          "id" -> s.id, "attempt" -> s.attempt, "start_us" -> s.startUs, "end_us" -> s.endUs,
          "tasks" -> s.tasks, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
          "input_rows" -> s.inputRows, "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "spill_bytes" -> s.spillBytes, "peak_exec_mem" -> s.peakExecMem))))
        out.put("cached_rdds", Json.arr(r.cachedRdds.asScala.toSeq.map { case (t, id) =>
          Json.obj("start_us" -> t, "rdd" -> id) }))
      }
    } finally {
      Json.write(args.out, out)
      spark.stop()
    }
  }
}

/** curation_hll: whole passes over a fixed list of operations, each
  * constructed, planned and collected in turn. */
final class BatchWorkload(spark: SparkSession, args: PerfBench.Args, tracer: Tracer) {
  import BatchWorkload._

  private val sc = spark.sparkContext

  /** One timed call: construct the frame, plan it, collect it. Catalog
    * queries first run `GraftSession.prepare`: `SparkEntry.queries` is
    * exactly prepare + the query's fn, and the two halves are timed apart. */
  final case class Op(name: String, layer: String, construct: () => DataFrame,
      check: Array[Row] => Option[String]) {
    def prepares: Boolean = layer == "queries.construct"
  }

  private def catalogOp(name: String): Op = {
    val q = Catalog.all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no catalog query $name"))
    Op(name, "queries.construct", () => q.fn(spark, args.data), _ => None)
  }

  private def hllInput: DataFrame =
    spark.range(0L, HllRows).select((col("id") % HllDistinct).as("x"))

  private var directEstimate: Option[Long] = None

  private def hllOps: Seq[Op] = Seq(
    Op("hll_direct", "functions.construct",
      () => hllInput.agg(hyper_log_log(hash64(col("x")), 14).as("est")),
      rows => {
        val est = rows.head.getLong(0)
        if (directEstimate.isEmpty) directEstimate = Some(est)
        withinBand(est)
      }),
    Op("hll_merge", "functions.construct",
      () => hllInput.groupBy((col("x") % HllGroups).as("g"))
        .agg(hll_sketch(hash64(col("x")), 14).as("sk"))
        .agg(hll_merge(col("sk")).as("est")),
      rows => {
        val est = rows.head.getLong(0)
        if (!directEstimate.contains(est))
          Some(s"merged estimate $est != direct estimate ${directEstimate.getOrElse("none")}")
        else withinBand(est)
      }))

  private def withinBand(est: Long): Option[String] = {
    val err = math.abs(est - HllDistinct).toDouble / HllDistinct
    if (err <= 3 * 1.04 / math.sqrt(16384.0)) None
    else Some(f"estimate $est is $err%.4f off $HllDistinct, beyond 3 sigma")
  }

  private def ops: Seq[Op] = Queries.map(catalogOp) ++ hllOps

  private val records = ArrayBuffer.empty[java.util.Map[String, AnyRef]]
  private val passes = ArrayBuffer.empty[java.util.Map[String, AnyRef]]
  private val reference = scala.collection.mutable.Map.empty[String, Array[Row]]
  private val warmErrors = scala.collection.mutable.Map.empty[String, String]

  /** Runs one operation; returns its rows and schema (null when it failed). */
  private def runOp(op: Op, pass: Int): (Array[Row], StructType) = {
    val cpu0 = JvmStats.threadUserNs()
    var rows: Array[Row] = null
    var err: String = null
    var df: DataFrame = null
    var prepare, construct, plan, exec = 0L
    var storagePeak = 0L
    val t0 = Clock.nowUs
    try {
      tracer.span(s"op:${op.name}", newOp = true) {
        if (op.prepares) prepare = tracer.span("core.prepare")(GraftSession.prepare(spark))._2
        val (d, c) = tracer.span(op.layer)(op.construct())
        df = d; construct = c
        if (tracer.enabled)
          storagePeak = math.max(storagePeak, org.apache.spark.perfbench.SparkBridge.storageMemoryUsed)
        plan = tracer.span("plans.plan")(df.queryExecution.executedPlan)._2
        val (r, e) = tracer.span("exec.collect")(df.collect())
        rows = r; exec = e
        if (tracer.enabled)
          storagePeak = math.max(storagePeak, org.apache.spark.perfbench.SparkBridge.storageMemoryUsed)
      }
      val bad = op.check(rows).orElse(
        if (pass < 0) None
        else reference.get(op.name) match {
          case None => Some(s"no reference result: ${warmErrors.getOrElse(op.name, "warm-up failed")}")
          case Some(ref) if !ref.sameElements(rows) => Some("result differs from the warm-up result")
          case _ => None
        })
      bad.foreach(b => err = b)
    } catch {
      case t: Throwable => err = s"${t.getClass.getName}: ${t.getMessage}".take(500)
    }
    val t1 = Clock.nowUs
    val cpu = JvmStats.userNsBetween(cpu0, JvmStats.threadUserNs())
    if (df != null) GraftSession.release(df, blocking = true)
    records += Json.obj("pass" -> pass, "op" -> op.name, "ok" -> (err == null),
      "error" -> err, "start_us" -> t0, "end_us" -> t1, "wall_us" -> (t1 - t0),
      "prepare_us" -> prepare, "construct_us" -> construct, "plan_us" -> plan, "exec_us" -> exec,
      "user_cpu_ns" -> cpu, "rows" -> (if (rows == null) 0 else rows.length),
      "storage_peak_bytes" -> storagePeak)
    if (err == null) (rows, df.schema) else { if (pass < 0) warmErrors(op.name) = err; null }
  }

  def run(out: java.util.Map[String, AnyRef]): Unit = {
    val list = ops
    // warm-up: one untimed pass whose results become the reference every
    // timed pass must reproduce, and the rows DuckDB checks afterwards
    val resultsDir = s"${args.work}/results"
    list.foreach { op =>
      val result = runOp(op, -1)
      if (result != null) {
        val (rows, schema) = result
        reference(op.name) = rows
        if (op.prepares)
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$resultsDir/${op.name}")
      }
    }
    out.put("first_timed_us", Long.box(Clock.nowUs))
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      val gc0 = JvmStats.gcMs(); val jit0 = JvmStats.jitMs(); val cpu0 = JvmStats.processCpuNs()
      val pins0 = sc.getPersistentRDDs.size
      val t0 = Clock.nowUs
      list.foreach(runOp(_, pass))
      passes += Json.obj("pass" -> pass, "start_us" -> t0, "end_us" -> Clock.nowUs,
        "gc_ms" -> (JvmStats.gcMs() - gc0), "jit_ms" -> (JvmStats.jitMs() - jit0),
        "process_cpu_ns" -> (JvmStats.processCpuNs() - cpu0),
        "pins_left" -> (sc.getPersistentRDDs.size - pins0))
      pass += 1
    }
    out.put("ops", Json.arr(records.toSeq))
    out.put("passes", Json.arr(passes.toSeq))
    out.put("results_dir", resultsDir)
  }
}

object BatchWorkload {
  /** Catalog queries, run through `GraftSession.prepare` and the query's fn. */
  val Queries = Seq("q15_hll_users", "q32_hll_sketch_merge",
    "q51_dedup_clusters", "q92_dedup_keep_best", "q173_corpus_publish_provenance",
    "q113_bm25", "q176_indexed_retrieval_decon")
  /** The direct HLL input: x = id mod HllDistinct over HllRows ids. It is
    * fixed, not seeded, so its 3-sigma accuracy check gives the same
    * verdict on every run. */
  val HllRows = 4000000L
  val HllDistinct = 1000000L
  val HllGroups = 64L
}

/** Minimal JSON for the measurement file (Jackson ships with Spark). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def obj(kv: (String, Any)*): java.util.Map[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, v.asInstanceOf[AnyRef]) }
    m
  }
  def arr(xs: Iterable[_]): java.util.List[AnyRef] =
    new java.util.ArrayList[AnyRef](xs.map(_.asInstanceOf[AnyRef]).toSeq.asJava)
  def write(path: String, v: AnyRef): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    mapper.writeValue(new java.io.File(path), v)
  }
}

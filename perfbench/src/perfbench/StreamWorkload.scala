package perfbench

import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.hub.MemHub
import graft.streaming.StreamDedup

/** The records one phase publishes, fixed by the seed. Record i is due
  * i / rate seconds after the phase starts and goes to stream i mod the
  * stream count. About one record in twenty is a planted duplicate: a
  * byte-identical copy of one of the previous few hundred records, which the
  * pipeline's dedup must drop.
  *
  * Streams take turns rather than being drawn at random: a capped read
  * admits from the streams in name order, so whether a drain ends with an
  * extra no-data batch (the watermark moved in its last batch) depends on
  * which stream holds the newest record. Drawn at random, that came out
  * differently from seed to seed and moved the drain wall by about 15%. */
final class StreamPlan(seed: Long, val rate: Int, val total: Int, val streams: Seq[String]) {
  val body = new Array[Map[String, String]](total)
  val stream = new Array[Int](total)
  private val words = Array("ant", "bee", "cat", "dog", "eel", "fox", "gnu", "hen")
  locally {
    val rnd = new SplittableRandom(seed)
    var n = 0L
    for (i <- 0 until total) {
      stream(i) = i % streams.size
      body(i) =
        if (i >= 500 && rnd.nextInt(20) == 0) body(i - 1 - rnd.nextInt(500))
        else {
          n += 1
          val v = words(rnd.nextInt(words.length)) * (1 + rnd.nextInt(3))
          // ts is filled in when the record is due; the id and value are fixed now
          Map("id" -> java.lang.Long.toHexString(seed * 1000003L + n * 0x9E3779B97F4A7C15L),
            "n" -> n.toString, "v" -> v)
        }
    }
  }

  /** The sink's expected content: each distinct id with its transformed value. */
  def expected: Map[String, String] =
    body.iterator.map(b => b("id") -> StreamWorkload.transform(b("v"), b("n").toLong)).toMap
}

/** Open-loop generator: appends every record at (or after) its due time,
  * however far behind the consumer is, and logs when each chunk landed. */
final class Generator(uri: String, plan: StreamPlan) extends Thread("perfbench-generator") {
  @volatile var t0Us = 0L
  /** (first record, count, append time µs) per appended chunk. */
  val chunks = ArrayBuffer.empty[(Int, Int, Long)]
  /** Per stream, the record index of each sequence number. */
  val seqs: Seq[ArrayBuffer[Int]] = plan.streams.map(_ => ArrayBuffer.empty[Int])
  private val stamped = new java.util.IdentityHashMap[Map[String, String], Map[String, String]]()

  setDaemon(true)

  override def run(): Unit = {
    val t0 = System.nanoTime()
    t0Us = Clock.nowUs
    var sent = 0
    while (sent < plan.total) {
      val due = math.min(plan.total.toLong,
        (System.nanoTime() - t0) * plan.rate / 1000000000L + 1).toInt
      if (due > sent) {
        val byStream = plan.streams.indices.map(_ => ArrayBuffer.empty[Map[String, String]])
        for (i <- sent until due) {
          // a duplicate carries its original's event time: the same bytes again
          val b = stamped.computeIfAbsent(plan.body(i), b =>
            b + ("ts" -> (t0Us / 1000L + i * 1000L / plan.rate).toString))
          byStream(plan.stream(i)) += b
          seqs(plan.stream(i)) += i
        }
        plan.streams.indices.foreach { s =>
          if (byStream(s).nonEmpty) MemHub.xadd(uri, plan.streams(s), byStream(s).iterator)
        }
        chunks += ((sent, due - sent, Clock.nowUs))
        sent = due
      } else {
        val nextDueNs = t0 + sent.toLong * 1000000000L / plan.rate
        LockSupport.parkNanos(math.max(50000L, nextDueNs - System.nanoTime()))
      }
    }
  }
}

/** stream_ingest: a fixed-rate phase under a ProcessingTime trigger, then
  * drains of the whole log from fresh checkpoints. */
final class StreamWorkload(spark: SparkSession, args: PerfBench.Args, tracer: Tracer) {
  import StreamWorkload._

  private val client: Option[String] =
    if (tracer.enabled) Some(classOf[TimingRedisClient].getName) else None

  /** source → event time → dedup → value transform → hash sink. */
  private def start(uri: String, sink: String, checkpoint: String,
      trigger: Trigger, maxPerTrigger: Option[Long]): StreamingQuery = {
    val reader = spark.readStream.format("graft-redis-stream")
      .option("uri", uri).option("streams", Streams.mkString(","))
    maxPerTrigger.foreach(m => reader.option("maxPerTrigger", m.toString))
    client.foreach(c => reader.option("client", c))
    val src = reader.load()
      .select(col("body")("id").as("id"), col("body")("n").cast("long").as("n"),
        col("body")("v").as("v"),
        timestamp_millis(col("body")("ts").cast("long")).as("event_time"))
    val deduped: DataFrame =
      StreamDedup.dedupWithinWatermark(src, "event_time", "10 seconds", Seq("id"))
    val writer = deduped
      .select(col("id").as("key"),
        concat(upper(col("v")), lit(":"),
          (length(col("v")) * 7 + pmod(col("n"), lit(13L))).cast("string")).as("value"))
      .writeStream.format("graft-redis-hash")
      .option("uri", uri).option("hash", sink)
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(trigger)
    client.foreach(c => writer.option("client", c))
    writer.start()
  }

  private def progressJson(q: StreamingQuery): java.util.List[AnyRef] =
    Json.arr(q.recentProgress.toSeq.map(_.json))

  private def inputRows(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  /** Failure text when the sink or Spark's row count is wrong, else null. */
  private def verify(uri: String, sink: String, q: StreamingQuery,
      plan: StreamPlan): String = {
    val got = MemHub.hashGetAll(s"$uri/$sink")
    val want = plan.expected
    val rows = inputRows(q)
    if (rows != plan.total) s"Spark counted $rows input rows, the generator published ${plan.total}"
    else if (got.size != want.size) s"sink holds ${got.size} ids, expected ${want.size}"
    else want.collectFirst { case (k, v) if !got.get(k).contains(v) =>
      s"sink value for $k is ${got.get(k)}, expected $v" }.orNull
  }

  /** Publishes `plan` at its rate into `uri` while a ProcessingTime query
    * consumes it; returns the stopped query and the generator. */
  private def fixedRate(uri: String, plan: StreamPlan): (StreamingQuery, Generator) = {
    val q = start(uri, "sink", s"${args.work}/checkpoints/$uri-rate",
      Trigger.ProcessingTime(TriggerMs), None)
    val gen = new Generator(uri, plan)
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    (q, gen)
  }

  private def drain(uri: String, sink: String): (StreamingQuery, Long) = {
    val t0 = System.nanoTime()
    val q = start(uri, sink, s"${args.work}/checkpoints/$uri-$sink",
      Trigger.AvailableNow(), Some(DrainMaxPerTrigger))
    q.awaitTermination()
    (q, (System.nanoTime() - t0) / 1000L)
  }

  /** Drains a pre-filled log on a namespace of its own, several times, so
    * the pipeline's code is compiled before anything is timed. */
  def warmUp(): Unit = tracer.span("stream.warmup", newOp = true) {
    val warmUri = s"perfbench-warm-${args.seed}"
    val warm = new StreamPlan(args.seed ^ 0x5DEECE66DL, Rate, WarmRecords, Streams)
    val ts = (System.currentTimeMillis() / 1000L * 1000L).toString
    warm.streams.indices.foreach { s =>
      MemHub.xadd(warmUri, warm.streams(s), warm.body.indices.iterator
        .filter(warm.stream(_) == s).map(i => warm.body(i) + ("ts" -> ts)))
    }
    (1 to WarmDrains).foreach { k =>
      drain(warmUri, s"warm$k")
      MemHub.hashDrop(s"$warmUri/warm$k")
    }
  }

  def run(out: java.util.Map[String, AnyRef]): Unit = {
    warmUp()

    val uri = s"perfbench-${args.seed}"
    val plan = new StreamPlan(args.seed, Rate, Rate * args.seconds, Streams)
    out.put("first_timed_us", Long.box(Clock.nowUs))
    val client0 = RedisTimings.snapshot()
    val gc0 = JvmStats.gcMs(); val jit0 = JvmStats.jitMs(); val pcpu0 = JvmStats.processCpuNs()
    val cpu0 = JvmStats.threadUserNs()
    val rateStart = Clock.nowUs
    val ((q, gen), _) = tracer.span("stream.rate_phase", newOp = true)(fixedRate(uri, plan))
    val rateEnd = Clock.nowUs
    val userNs = JvmStats.userNsBetween(cpu0, JvmStats.threadUserNs(), Set(gen.getId))
    val rateErr = q.exception.map(_.toString).orElse(Option(verify(uri, "sink", q, plan)))
    val client1 = RedisTimings.snapshot()
    out.put("rate_phase", Json.obj(
      "ok" -> rateErr.isEmpty, "error" -> rateErr.orNull,
      "start_us" -> rateStart, "end_us" -> rateEnd, "user_cpu_ns" -> userNs,
      "gc_ms" -> (JvmStats.gcMs() - gc0), "jit_ms" -> (JvmStats.jitMs() - jit0),
      "process_cpu_ns" -> (JvmStats.processCpuNs() - pcpu0),
      "client" -> Json.arr(client0.zip(client1).map { case (a, b) => b - a }),
      "progress" -> progressJson(q)))
    out.put("generator", Json.obj(
      "t0_us" -> gen.t0Us, "rate" -> plan.rate, "total" -> plan.total,
      "distinct" -> plan.expected.size,
      "chunks" -> Json.arr(gen.chunks.map { case (f, n, t) => Json.arr(Seq(f, n, t)) }),
      "seqs" -> Json.arr(gen.seqs.map(s => Json.arr(s.map(Int.box))))))

    val drains = (1 to Drains).map { k =>
      val c0 = RedisTimings.snapshot()
      try {
        val (dq, wallUs) = tracer.span("stream.drain", newOp = true)(drain(uri, s"drain$k"))._1
        val c1 = RedisTimings.snapshot()
        val err = dq.exception.map(_.toString).orElse(Option(verify(uri, s"drain$k", dq, plan)))
        // untimed: a checked sink is dropped, so the heap does not grow drain by drain
        MemHub.hashDrop(s"$uri/drain$k")
        Json.obj("ok" -> err.isEmpty, "error" -> err.orNull, "wall_us" -> wallUs,
          "records" -> plan.total,
          "client" -> Json.arr(c0.zip(c1).map { case (a, b) => b - a }),
          "progress" -> progressJson(dq))
      } catch {
        case t: Throwable => Json.obj("ok" -> false, "error" -> t.toString.take(500))
      }
    }
    out.put("drains", Json.arr(drains))
  }
}

object StreamWorkload {
  val Streams = Seq("s0", "s1")
  val Rate = 4000
  val TriggerMs = 1000L
  val WarmRecords = 20000
  /** Drains of the warm-up log. With one, the first timed drains ran about
    * 15% slower than the last. */
  val WarmDrains = 3
  /** Timed drains; their median is reported, so an odd count. */
  val Drains = 9
  val DrainMaxPerTrigger = 10000L

  /** The pipeline's value transform, recomputed outside Spark. */
  def transform(v: String, n: Long): String = s"${v.toUpperCase}:${v.length * 7 + n % 13}"
}

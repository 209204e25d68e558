package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One wall clock for spans, jobs and stream commits: epoch microseconds
  * anchored once, advanced by the monotonic nanosecond clock. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

final case class Span(id: Long, parent: Long, op: Long, name: String,
    startUs: Long, endUs: Long)

/** Spans around the benchmark's calls into the program. Disabled, a span
  * only measures its duration; enabled, it is also kept in memory and its
  * id rides on the thread's Spark local properties, so a job submitted
  * inside it names it as parent. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[(Long, Long)] = Nil // (span id, op id), innermost first
  private var nextId = 1L

  /** Runs `body` as span `name`; returns its value and duration in µs.
    * A span that starts an operation gives it its own id as the op id;
    * any other span joins the operation of the span it opens inside. */
  def span[T](name: String, newOp: Boolean = false)(body: => T): (T, Long) = {
    val id = nextId
    nextId += 1
    val opId = if (newOp) id else open.headOption.map(_._2).getOrElse(0L)
    val parent = open.headOption.map(_._1).getOrElse(0L)
    open = (id, opId) :: open
    if (enabled) sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val t0 = Clock.nowUs
    try {
      val v = body
      (v, Clock.nowUs - t0)
    } finally {
      open = open.tail
      if (enabled) {
        spans += Span(id, parent, opId, name, t0, Clock.nowUs)
        sc.setLocalProperty(Tracer.SpanProperty,
          open.headOption.map(_._1.toString).orNull)
      }
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

final case class JobRec(id: Int, span: Long, startUs: Long, var endUs: Long,
    stages: Seq[Int])
final case class StageRec(id: Int, attempt: Int, startUs: Long, endUs: Long,
    tasks: Int, cpuNs: Long, gcMs: Long, inputRows: Long, shuffleWriteBytes: Long,
    spillBytes: Long, peakExecMem: Long)

/** Spark jobs, stages and newly cached RDDs, as the listener bus reports
  * them (traced runs only). */
final class JobRecorder extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  /** (epoch µs, rdd id) of each cached RDD a submitted stage computes. */
  val cachedRdds = new ConcurrentLinkedQueue[(Long, Int)]()
  private val peakMem = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val seenRdds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    jobs.add(JobRec(e.jobId, span, e.time * 1000L, -1L, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.asScala.find(_.id == e.jobId).foreach(_.endUs = e.time * 1000L)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L
    e.stageInfo.rddInfos.foreach { r =>
      if (r.storageLevel.isValid && seenRdds.add(r.id)) cachedRdds.add((t, r.id))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      peakMem.merge((e.stageId, e.stageAttemptId),
        java.lang.Long.valueOf(e.taskMetrics.peakExecutionMemory),
        (a, b) => java.lang.Long.valueOf(math.max(a, b)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val key = (s.stageId, s.attemptNumber())
    stages.add(StageRec(s.stageId, s.attemptNumber(),
      s.submissionTime.getOrElse(0L) * 1000L, s.completionTime.getOrElse(0L) * 1000L,
      s.numTasks,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.inputMetrics.recordsRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      Option(peakMem.remove(key)).map(_.longValue).getOrElse(0L)))
  }
}

/** CPU and JVM counters read from the management beans. */
object JvmStats {
  private val threads = ManagementFactory.getThreadMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** User CPU ns per live Java thread. The JVM's compiler threads are
    * hidden from this view and its GC threads are not Java threads, so
    * JIT and GC work is left out. */
  def threadUserNs(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadUserTime(id))
      .filter(_._2 >= 0L).toMap

  /** User CPU ns spent between two snapshots, excluding `skip` threads. */
  def userNsBetween(a: Map[Long, Long], b: Map[Long, Long], skip: Set[Long] = Set.empty): Long =
    b.iterator.collect {
      case (id, ns) if !skip(id) => math.max(0L, ns - a.getOrElse(id, 0L))
    }.sum

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def processCpuNs(): Long = os.getProcessCpuTime
}

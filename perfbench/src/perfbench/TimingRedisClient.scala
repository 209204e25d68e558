package perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.sources.hub.{HubRedisClient, RedisClient}

/** A [[RedisClient]] that times and counts the calls the stream source and
  * the hash sink make, then delegates to the hub client. Traced runs plug
  * it in through the connectors' public `client` option; executors resolve
  * it by name, and in local mode they share [[RedisTimings]]. */
class TimingRedisClient extends RedisClient {
  private val hub = new HubRedisClient

  private def timed[T](ns: AtomicLong)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ns.addAndGet(System.nanoTime() - t0)
  }

  override def hashGetAll(key: String): Map[String, String] = hub.hashGetAll(key)
  override def hashPut(key: String, kvs: Iterator[(String, String)]): Unit =
    hub.hashPut(key, kvs)
  override def hashPromote(stageKey: String, targetKey: String): Unit =
    timed(RedisTimings.promoteNs)(hub.hashPromote(stageKey, targetKey))
  override def hashDrop(key: String): Unit = hub.hashDrop(key)
  override def zrangeByScore(key: String, from: Double, to: Double): Seq[(String, Double)] =
    hub.zrangeByScore(key, from, to)
  override def zadd(key: String, svs: Iterator[(String, Double)]): Unit = hub.zadd(key, svs)
  override def zsetPromote(stageKey: String, targetKey: String): Unit =
    hub.zsetPromote(stageKey, targetKey)
  override def zsetDrop(key: String): Unit = hub.zsetDrop(key)
  override def xread(uri: String, stream: String, afterId: Long): Seq[(Long, Map[String, String])] = {
    val rows = timed(RedisTimings.readNs)(hub.xread(uri, stream, afterId))
    RedisTimings.reads.incrementAndGet()
    RedisTimings.rowsFetched.addAndGet(rows.size.toLong)
    rows
  }
  override def xlen(uri: String, stream: String): Long = hub.xlen(uri, stream)
}

/** The timing client's counters. They live apart from the client class:
  * the connectors resolve a client name to a Scala object when one of that
  * name exists, and this client must resolve to the class. */
object RedisTimings {
  val readNs = new AtomicLong()
  val reads = new AtomicLong()
  val rowsFetched = new AtomicLong()
  val promoteNs = new AtomicLong()

  /** (read ns, reads, rows fetched, promote ns) so far. */
  def snapshot(): Seq[Long] = Seq(readNs.get, reads.get, rowsFetched.get, promoteNs.get)
}

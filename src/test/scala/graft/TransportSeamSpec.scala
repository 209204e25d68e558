package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.sources.hub.{Clients, InfluxClient, MemHub, MongoClient, RedisClient, TopicLogClient, TlsGate}

/** The transport seam made checkable (VERDICT r8 "next round" #7): each
  * connector family's DSv2 classes run against a MOCK implementing only
  * the family's client trait — no MemHub anywhere in the data path — via
  * `option("client", <fqn>)`, proving the "on a cluster, swap the hub
  * client for the network client; the DSv2 classes do not change" claim
  * (MemHub.scala:14-16, Transport.scala). The mocks are top-level
  * classes so [[graft.sources.hub.Clients.byName]] resolves them exactly
  * the way a deployment resolves a real network client. */
class TransportSeamSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4, "graft-seam")

  test("redis hash: scan and two-phase write run against a mock RedisClient") {
    MockRedis.reset()
    MockRedis.hashes("h:src/state") = Map("a" -> "1", "b" -> "2")
    val got = spark.read.format("graft-redis-hash")
      .option("uri", "h:src").option("hash", "state")
      .option("client", classOf[MockRedisClient].getName)
      .load().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "1", "b" -> "2"))
    // write path: stage + promote must land in the mock store
    import spark.implicits._
    Seq(("x", "9")).toDF("key", "value").write.format("graft-redis-hash")
      .option("uri", "h:dst").option("hash", "out")
      .option("client", classOf[MockRedisClient].getName)
      .mode("append").save()
    assert(MockRedis.hashes.get("h:dst/out").contains(Map("x" -> "9")),
      s"two-phase write must promote into the mock: ${MockRedis.hashes}")
    assert(!MockRedis.hashes.keySet.exists(_.contains(".stage.")),
      "staging hashes must be promoted away")
  }

  test("redis zset: the pushed score range reaches the mock transport") {
    MockRedis.reset()
    MockRedis.zsets("z:src/scores") = Seq(("lo", 1.0), ("mid", 5.0), ("hi", 9.0))
    val got = spark.read.format("graft-redis-zset")
      .option("uri", "z:src").option("key", "scores")
      .option("client", classOf[MockRedisClient].getName)
      .load().where("score >= 2.0 AND score <= 8.0")
      .collect().map(_.getString(1)).toSeq
    assert(got == Seq("mid"))
    assert(MockRedis.lastZRange.get() == (2.0, 8.0),
      "the DSv2 pushdown must hand the narrowed range to the TRANSPORT")
  }

  test("a client class with a companion object resolves to the class, not the companion") {
    MockRedis.reset()
    MockRedis.hashes("h:comp/state") = Map("a" -> "1")
    val got = spark.read.format("graft-redis-hash")
      .option("uri", "h:comp").option("hash", "state")
      .option("client", classOf[CompanionedRedisClient].getName)
      .load().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "1"))
    assert(CompanionedRedisClient.note.nonEmpty)
    // both names of a Scala object still resolve to the object itself
    assert(Clients.byName[RedisClient]("graft.ObjectRedisClient") eq ObjectRedisClient)
    assert(Clients.byName[RedisClient]("graft.ObjectRedisClient$") eq ObjectRedisClient)
  }

  test("redis stream: per-stream partitions read from the mock") {
    MockRedis.reset()
    // ids are dense 0-based sequence numbers (the xlen-derived range)
    MockRedis.streams("s:src/s1") = Seq((0L, Map("k" -> "v1")), (1L, Map("k" -> "v2")))
    val got = spark.read.format("graft-redis-stream")
      .option("uri", "s:src").option("streams", "s1")
      .option("client", classOf[MockRedisClient].getName)
      .load().collect().map(_.getString(1)).toSeq
    assert(got == Seq("0-0", "0-1"))
  }

  test("mongo: find scan and CDC both run against a mock MongoClient") {
    MockMongo.docs = Seq("""{"a": 1}""", """{"a": 2}""")
    MockMongo.oplog = Seq((0L, "insert", """{"a": 1}""", 1000L),
      (1L, "delete", """{"a": 1}""", 2000L))
    val found = spark.read.format("graft-mongo").schema("a LONG")
      .option("uri", "m:src")
      .option("client", classOf[MockMongoClient].getName)
      .load().collect().map(_.getLong(0)).sorted.toSeq
    assert(found == Seq(1L, 2L))
    val cdc = spark.read.format("graft-mongo-cdc")
      .option("uri", "m:src")
      .option("client", classOf[MockMongoClient].getName)
      .load().collect().map(_.getString(0)).toSeq
    assert(cdc == Seq("insert", "delete"))
  }

  test("influx: the ranged scan reads from a mock InfluxClient") {
    MockInflux.points = Seq(
      (1000L, Map("t" -> "a"), Map("v" -> 1.5)),
      (2000L, Map("t" -> "b"), Map("v" -> 2.5)))
    val got = spark.read.format("graft-influx")
      .option("uri", "i:src").option("measurement", "m")
      .option("client", classOf[MockInfluxClient].getName)
      .load().selectExpr("fields['v']").collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.5, 2.5))
  }

  test("topic log: the pulsar-profile batch scan reads from a mock TopicLogClient") {
    MockTopicLog.msgs = Seq(
      MemHub.Msg(0L, "k1", Map.empty, 1000L, "p1".getBytes("UTF-8")),
      MemHub.Msg(1L, "k2", Map.empty, 2000L, "p2".getBytes("UTF-8")))
    val got = spark.read.format("graft-topic")
      .option("uri", "t:src").option("profile", "pulsar")
      .option("topics", "t1").option("schema", "string")
      .option("client", classOf[MockTopicLogClient].getName)
      .load().selectExpr("value").collect().map(_.getString(0)).toSeq
    assert(got == Seq("p1", "p2"))
    assert(MockTopicLog.authChecked.get(), "the auth gate must go through the transport")
  }
}

// ---- mock transports: ONLY the traits, no MemHub in any data path --------

object MockRedis {
  val hashes = scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]
  val zsets = scala.collection.concurrent.TrieMap.empty[String, Seq[(String, Double)]]
  val streams = scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, Map[String, String])]]
  val lastZRange = new java.util.concurrent.atomic.AtomicReference[(Double, Double)]((0.0, 0.0))
  def reset(): Unit = { hashes.clear(); zsets.clear(); streams.clear() }
}

class MockRedisClient extends RedisClient {
  override def hashGetAll(key: String): Map[String, String] =
    MockRedis.hashes.getOrElse(key, Map.empty)
  override def hashPut(key: String, kvs: Iterator[(String, String)]): Unit =
    MockRedis.hashes.updateWith(key)(old => Some(old.getOrElse(Map.empty) ++ kvs)): Unit
  override def hashPromote(stageKey: String, targetKey: String): Unit = {
    MockRedis.hashes.remove(stageKey).foreach { staged =>
      MockRedis.hashes.updateWith(targetKey)(old => Some(old.getOrElse(Map.empty) ++ staged))
    }
  }
  override def hashDrop(key: String): Unit = { MockRedis.hashes.remove(key): Unit }
  override def zrangeByScore(key: String, from: Double, to: Double): Seq[(String, Double)] = {
    MockRedis.lastZRange.set((from, to))
    MockRedis.zsets.getOrElse(key, Nil).filter(sv => sv._2 >= from && sv._2 <= to)
      .sortBy(_._2)
  }
  override def zadd(key: String, svs: Iterator[(String, Double)]): Unit =
    MockRedis.zsets.updateWith(key)(old => Some(old.getOrElse(Nil) ++ svs)): Unit
  override def zsetPromote(stageKey: String, targetKey: String): Unit =
    MockRedis.zsets.remove(stageKey).foreach { staged =>
      MockRedis.zsets.updateWith(targetKey)(old => Some(old.getOrElse(Nil) ++ staged))
    }
  override def zsetDrop(key: String): Unit = { MockRedis.zsets.remove(key): Unit }
  override def xread(uri: String, stream: String, afterId: Long): Seq[(Long, Map[String, String])] =
    MockRedis.streams.getOrElse(s"$uri/$stream", Nil).filter(_._1 > afterId)
  override def xlen(uri: String, stream: String): Long =
    MockRedis.streams.getOrElse(s"$uri/$stream", Nil).length.toLong
}

/** A client class that also has a companion object: the companion is
  * not a RedisClient, so resolving the class name must instantiate the
  * class. */
class CompanionedRedisClient extends MockRedisClient
object CompanionedRedisClient { val note = "companion, not a client" }

/** A client that is a Scala object, addressed by either name form. */
object ObjectRedisClient extends MockRedisClient

object MockMongo {
  @volatile var docs: Seq[String] = Nil
  @volatile var oplog: Seq[(Long, String, String, Long)] = Nil
}

class MockMongoClient extends MongoClient {
  override def find(uri: String): Seq[String] = MockMongo.docs
  override def oplogRange(uri: String, afterSeq: Long, until: Long): Seq[(Long, String, String, Long)] =
    MockMongo.oplog.filter(e => e._1 > afterSeq && e._1 <= until)
  override def oplogLen(uri: String): Long = MockMongo.oplog.length.toLong
}

object MockInflux {
  @volatile var points: Seq[(Long, Map[String, String], Map[String, Double])] = Nil
}

class MockInfluxClient extends InfluxClient {
  override def queryRange(uri: String, measurement: String, fromMs: Long, toMs: Long):
      Seq[(Long, Map[String, String], Map[String, Double])] =
    MockInflux.points.filter(p => p._1 >= fromMs && p._1 <= toMs)
  override def influxQuery(uri: String, q: String):
      Seq[(Long, Map[String, String], Map[String, Double])] = MockInflux.points
}

object MockTopicLog {
  @volatile var msgs: Seq[MemHub.Msg] = Nil
  val authChecked = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class MockTopicLogClient extends TopicLogClient {
  override def poll(uri: String, topic: String, afterSeq: Long): Seq[MemHub.Msg] =
    MockTopicLog.msgs.filter(_.seq > afterSeq)
  override def topicMaxSeq(uri: String, topic: String): Long =
    if (MockTopicLog.msgs.isEmpty) -1L else MockTopicLog.msgs.map(_.seq).max
  override def topicNames(uri: String): Seq[String] = Seq("t1")
  override def ack(consumer: String, seq: Long): Unit = ()
  override def checkTopicAuth(uri: String, auth: Option[(String, String)]): Unit =
    MockTopicLog.authChecked.set(true)
  override def checkTopicTls(uri: String, client: Option[TlsGate.ClientTls]): Unit = ()
  override def mqttPollGate(uri: String, clientId: String, autoReconnect: Boolean): Boolean = false
}

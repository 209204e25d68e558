package graft.sources.hub

/** The transport seam between graft's DSv2 connector classes and the
  * outside world ("on a cluster, swap the hub client" — MemHub's header,
  * now a checkable contract instead of a comment).
  *
  * Each connector family defines the SMALL client trait it actually
  * needs; the DSv2 tables capture only a fully-qualified implementation
  * NAME (from the `client` read/write option) and resolve it per-JVM via
  * [[Clients.byName]] inside the partition/writer functions — so nothing
  * non-serializable crosses a task boundary and every executor
  * instantiates its own transport, exactly how a production connector
  * resolves its connection provider class. The default for every family
  * is the MemHub-backed implementation (`Hub*Client`); a deployment
  * against real Redis/Mongo/Influx/brokers implements the trait over the
  * network client and passes its class name — the DSv2 code (pushdown,
  * partitions, offsets, commit lifecycle) does not change.
  * TransportSeamSpec proves it: each family runs against a mock
  * implementing ONLY the trait, no MemHub anywhere.
  */
object Clients {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Resolve an implementation of `T` by fully-qualified name — a Scala
    * `object` (natural name or mangled `Obj$` form, via MODULE$) or a
    * no-arg class — cached per JVM. The candidates are tried in that
    * order and the first that IS a `T` wins: a Scala object's natural
    * name resolves to its mirror class (no MODULE$, no usable
    * constructor), so the `$`-suffixed module class is tried next; a
    * class with a companion object also has that module class, but the
    * companion is not a `T`, so the class itself is instantiated. */
  def byName[T](name: String)(implicit tag: scala.reflect.ClassTag[T]): T =
    cache.computeIfAbsent(name, _ => {
      def module(cls: Class[_]): Option[AnyRef] =
        try Some(cls.getField("MODULE$").get(null))
        catch { case _: NoSuchFieldException => None }
      val cls = Class.forName(name)
      val candidates = Iterator(
        () => module(cls),
        () => try module(Class.forName(name + "$"))
          catch { case _: ClassNotFoundException => None },
        () => try Some(cls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef])
          catch { case _: NoSuchMethodException | _: InstantiationException => None })
      candidates.flatMap(_()).find(tag.runtimeClass.isInstance).getOrElse {
        throw new IllegalArgumentException(
          s"client '$name' is neither a Scala object (MODULE$$ on '$name' " +
            s"or '$name$$') nor a no-arg class implementing " +
            s"${tag.runtimeClass.getName} — for a Scala object, either name " +
            "form works; for a class it needs a public no-arg constructor")
      }
    }).asInstanceOf[T]

  /** Test hook: drop a cached instance (e.g. after re-registering). */
  def evict(name: String): Unit = { cache.remove(name): Unit }
}

/** Redis transport surface (S6/S7/S8 sources, K3/K4/K5 sinks). Keys are
  * the full `uri/key` strings the tables address. */
trait RedisClient {
  def hashGetAll(key: String): Map[String, String]
  def hashPut(key: String, kvs: Iterator[(String, String)]): Unit
  def hashPromote(stageKey: String, targetKey: String): Unit
  def hashDrop(key: String): Unit
  def zrangeByScore(key: String, from: Double, to: Double): Seq[(String, Double)]
  def zadd(key: String, svs: Iterator[(String, Double)]): Unit
  def zsetPromote(stageKey: String, targetKey: String): Unit
  def zsetDrop(key: String): Unit
  def xread(uri: String, stream: String, afterId: Long): Seq[(Long, Map[String, String])]
  def xlen(uri: String, stream: String): Long
}

/** MemHub-backed default. */
class HubRedisClient extends RedisClient {
  override def hashGetAll(key: String): Map[String, String] = MemHub.hashGetAll(key)
  override def hashPut(key: String, kvs: Iterator[(String, String)]): Unit =
    MemHub.hashPut(key, kvs)
  override def hashPromote(stageKey: String, targetKey: String): Unit =
    MemHub.hashPromote(stageKey, targetKey)
  override def hashDrop(key: String): Unit = MemHub.hashDrop(key)
  override def zrangeByScore(key: String, from: Double, to: Double): Seq[(String, Double)] =
    MemHub.zrangeByScore(key, from, to)
  override def zadd(key: String, svs: Iterator[(String, Double)]): Unit =
    MemHub.zadd(key, svs)
  override def zsetPromote(stageKey: String, targetKey: String): Unit =
    MemHub.zsetPromote(stageKey, targetKey)
  override def zsetDrop(key: String): Unit = MemHub.zsetDrop(key)
  override def xread(uri: String, stream: String, afterId: Long): Seq[(Long, Map[String, String])] =
    MemHub.xread(uri, stream, afterId)
  override def xlen(uri: String, stream: String): Long = MemHub.xlen(uri, stream)
}

/** Mongo transport surface (S3 find source, S4/S5 CDC source). */
trait MongoClient {
  def find(uri: String): Seq[String]
  def oplogRange(uri: String, afterSeq: Long, until: Long): Seq[(Long, String, String, Long)]
  def oplogLen(uri: String): Long
}

class HubMongoClient extends MongoClient {
  override def find(uri: String): Seq[String] = MemHub.find(uri)
  override def oplogRange(uri: String, afterSeq: Long, until: Long): Seq[(Long, String, String, Long)] =
    MemHub.oplogRange(uri, afterSeq, until)
  override def oplogLen(uri: String): Long = MemHub.oplogLen(uri)
}

/** Influx transport surface (S1/S2 batch source). */
trait InfluxClient {
  def queryRange(uri: String, measurement: String, fromMs: Long, toMs: Long):
      Seq[(Long, Map[String, String], Map[String, Double])]
  def influxQuery(uri: String, q: String):
      Seq[(Long, Map[String, String], Map[String, Double])]
}

class HubInfluxClient extends InfluxClient {
  override def queryRange(uri: String, measurement: String, fromMs: Long, toMs: Long):
      Seq[(Long, Map[String, String], Map[String, Double])] =
    MemHub.queryRange(uri, measurement, fromMs, toMs)
  override def influxQuery(uri: String, q: String):
      Seq[(Long, Map[String, String], Map[String, Double])] =
    MemHub.influxQuery(uri, q)
}

/** Topic-log transport surface (MQTT/Pulsar/HTTP/Twitter/Kafka-Connect
  * micro-batch sources share it). Mirrors the broker operations those
  * protocols need: ranged poll, high-water mark, consumer ack, and the
  * MQTT/TLS/auth gates the secured-broker matrix exercises. */
trait TopicLogClient {
  def poll(uri: String, topic: String, afterSeq: Long): Seq[MemHub.Msg]
  def topicMaxSeq(uri: String, topic: String): Long
  /** The broker's known topic names under a namespace — the tree an MQTT
    * wildcard filter expands against. */
  def topicNames(uri: String): Seq[String]
  def ack(consumer: String, seq: Long): Unit
  def checkTopicAuth(uri: String, auth: Option[(String, String)]): Unit
  def checkTopicTls(uri: String, client: Option[TlsGate.ClientTls]): Unit
  def mqttPollGate(uri: String, clientId: String, autoReconnect: Boolean): Boolean
}

class HubTopicLogClient extends TopicLogClient {
  override def poll(uri: String, topic: String, afterSeq: Long): Seq[MemHub.Msg] =
    MemHub.poll(uri, topic, afterSeq)
  override def topicMaxSeq(uri: String, topic: String): Long =
    MemHub.topicMaxSeq(uri, topic)
  override def topicNames(uri: String): Seq[String] = MemHub.topicNames(uri)
  override def ack(consumer: String, seq: Long): Unit = MemHub.ack(consumer, seq)
  override def checkTopicAuth(uri: String, auth: Option[(String, String)]): Unit =
    MemHub.checkTopicAuth(uri, auth)
  override def checkTopicTls(uri: String, client: Option[TlsGate.ClientTls]): Unit =
    MemHub.checkTopicTls(uri, client)
  override def mqttPollGate(uri: String, clientId: String, autoReconnect: Boolean): Boolean =
    MemHub.mqttPollGate(uri, clientId, autoReconnect)
}

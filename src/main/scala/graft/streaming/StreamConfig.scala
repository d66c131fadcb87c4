package graft.streaming

/** Typed, fail-fast pipeline configuration — the replacement for the
  * reference's `getConfigFiled` (SURVEY.md §2 U1, `CommonUtil.scala:19-31`),
  * which swallowed missing-key exceptions and returned null into the Kafka
  * consumer properties. Missing or malformed keys here fail at startup
  * with the key name. */
final case class StreamConfig(
    bootstrapServers: String,
    topic: String,
    redisHost: String,
    redisPort: Int,
    keyPrefix: String,
    checkpointDir: String,
    triggerSeconds: Long)

object StreamConfig {
  def fromMap(m: Map[String, String]): StreamConfig = {
    def req(key: String): String = m.getOrElse(key,
      throw new IllegalArgumentException(s"missing required config key '$key'"))
    val redis = req("sink.redis")
    val colon = redis.lastIndexOf(':')
    val port = redis.substring(colon + 1).toIntOption.filter(p => p > 0 && p < 65536)
    require(colon > 0 && port.isDefined,
      s"config key 'sink.redis' must be host:port, got '$redis'")
    StreamConfig(
      bootstrapServers = req("kafka.bootstrap.servers"),
      topic = req("kafka.topic"),
      redisHost = redis.substring(0, colon),
      redisPort = port.get,
      keyPrefix = m.getOrElse("sink.key.prefix", "n-ko-"),
      checkpointDir = req("checkpoint.dir"),
      triggerSeconds = m.getOrElse("trigger.seconds", "10").toLong)
  }
}

package graft

import graft.streaming.{OrderStreamPipeline, RespKVStore, StreamConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** The runnable equivalent of the reference's streaming application: Kafka
  * order events → per-day conditional metrics → Redis `HINCRBY` sink, with
  * offsets managed by the checkpoint WAL. Configure with system
  * properties (fail-fast, see [[StreamConfig]]):
  *
  * {{{
  * spark-submit --class graft.StreamApp \
  *   -Dgraft.kafka.bootstrap.servers=host:9092 -Dgraft.kafka.topic=orders \
  *   -Dgraft.sink.redis=redis-host:6379 \
  *   -Dgraft.checkpoint.dir=/path/ckpt [-Dgraft.sink.key.prefix=n-ko-] \
  *   [-Dgraft.trigger.seconds=10] [-Dgraft.idempotent=true] app.jar
  * }}}
  *
  * The sink is the Redis at `sink.redis`, spoken to over RESP by
  * [[graft.streaming.RespKVStore]]. Day hashes are `<prefix><yyyy-MM-dd>`
  * and the idempotent mode's applied-batch set is
  * `<prefix>applied_batches`, so apps with different prefixes can share
  * one Redis. Batch ids restart at 0 with a fresh checkpoint, so a fresh
  * checkpoint needs a fresh prefix: reusing one would skip the new
  * query's batches as already applied.
  */
object StreamApp {
  def main(args: Array[String]): Unit = {
    val props = sys.props.toMap.collect {
      case (k, v) if k.startsWith("graft.") => k.stripPrefix("graft.") -> v
    }
    val cfg = StreamConfig.fromMap(props)
    val idempotent = props.get("idempotent").exists(_.toBoolean)

    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .appName("graft-order-stream")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

    val kv = new RespKVStore(cfg.redisHost, cfg.redisPort,
      appliedSetKey = cfg.keyPrefix + "applied_batches")
    val pipeline = new OrderStreamPipeline(kv, cfg.keyPrefix, idempotent)
    val raw = OrderStreamPipeline.kafkaSource(
      spark, cfg.bootstrapServers, cfg.topic)
    val query = pipeline.start(raw, cfg.checkpointDir,
      Trigger.ProcessingTime(s"${cfg.triggerSeconds} seconds"))
    query.awaitTermination()
  }
}

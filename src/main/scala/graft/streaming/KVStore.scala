package graft.streaming

/** Accumulator key-value sink backend — the reference's Redis-hash contract
  * (`HINCRBY key field delta`, SURVEY.md §2 K1, citing
  * `StreamingAnalysisAppWithKafkaManageOffset.scala:72-74`), as an
  * interface so the engine never hard-depends on a Redis client.
  *
  * Implementations must be safe to call from executor tasks (the sink runs
  * `foreachPartition`), which means a serializable handle that holds a
  * per-executor pooled client — unlike the reference's pool-per-call leak
  * (`CommonUtil.scala:39-49`). [[RespKVStore]] is the implementation: it
  * speaks the Redis wire protocol to a real Redis or to the in-process
  * [[RespServer]] stub.
  */
trait KVStore extends Serializable {
  def hincrBy(key: String, field: String, delta: Long): Long
  def hgetAll(key: String): Map[String, Long]

  /** Record `batchId` as applied; false if it was already applied.
    * Backs the idempotent (effectively-once) sink mode. A Redis
    * implementation maps this to `SADD applied_batches <id>`. */
  def markBatch(batchId: Long): Boolean

  /** Whether `batchId` was already applied (`SISMEMBER` in Redis). */
  def batchSeen(batchId: Long): Boolean
}

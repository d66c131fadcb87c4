package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.OrderAnalytics
import graft.sources.MockOrderGenerator
import graft.streaming.{KVStore, OrderStreamPipeline, RespKVStore, RespServer}
import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** The `streaming` layer's KV boundary: times every call and tracks how
  * many records the store holds. Counters are JVM-global because the sink
  * calls it from executor task threads. */
final class TimedKV(inner: KVStore) extends KVStore {
  override def hincrBy(key: String, field: String, delta: Long): Long = {
    val t0 = System.nanoTime()
    val r = inner.hincrBy(key, field, delta)
    KvStats.applied(field, delta, t0, System.nanoTime())
    r
  }
  override def hgetAll(key: String): Map[String, Long] = inner.hgetAll(key)
  override def markBatch(batchId: Long): Boolean = inner.markBatch(batchId)
  override def batchSeen(batchId: Long): Boolean = inner.batchSeen(batchId)
}

object KvStats {
  val calls = new AtomicLong
  val nanos = new AtomicLong
  private var sumTotal, nTotal, nSuccess, nFee = 0L
  /** Records whose `total`, `success` and `fee` increments have all
    * been acknowledged by the store. */
  @volatile var visible = 0L
  /** (nanoTime, visible) each time `visible` grows; both increase. */
  val history = new ConcurrentLinkedQueue[(Long, Long)]()

  def applied(field: String, delta: Long, t0: Long, t1: Long): Unit = {
    calls.incrementAndGet()
    nanos.addAndGet(t1 - t0)
    synchronized {
      field match {
        case "total" => sumTotal += delta; nTotal += 1
        case "success" => nSuccess += 1
        case "fee" => nFee += 1
        case _ =>
      }
      if (nTotal == nSuccess && nTotal == nFee && sumTotal > visible) {
        visible = sumTotal
        history.add((t1, sumTotal))
      }
    }
    val tr = Tracing.tracer
    if (tr.on) tr.record("streaming", "kv.hincrby", t0, t1)
  }

  def reset(): Unit = synchronized {
    calls.set(0); nanos.set(0); sumTotal = 0; nTotal = 0; nSuccess = 0; nFee = 0
    visible = 0; history.clear()
  }

  /** First time at which at least `n` records were visible. */
  def timeReaching(n: Long): Option[Long] =
    history.asScala.collectFirst { case (t, v) if v >= n => t }

  def await(n: Long, timeoutS: Double): Boolean = {
    val until = System.nanoTime() + (timeoutS * 1e9).toLong
    while (visible < n && System.nanoTime() < until) Thread.sleep(1)
    visible >= n
  }
}

/** `orders_stream`: the reference pipeline end to end — order JSON files
  * landing in a directory, read with `readStream.text`, aggregated per
  * day by [[OrderStreamPipeline]] and applied with `HINCRBY` through
  * [[RespKVStore]] to the in-process [[RespServer]].
  *
  *  - catch-up (closed loop): a pre-written seeded backlog, one minute of
  *    event time per record, consumed `maxFilesPerTrigger` files at a time;
  *  - tail (open loop): one file per schedule slot at a fixed rate, events
  *    stamped at creation, all on today's day key. Latency runs from the
  *    slot's due time to the store's acknowledgement of the last field.
  *
  * The query keeps Spark's default zero-interval trigger throughout: a
  * batch starts as soon as the previous one ends and new files are there,
  * so tail latency is the batch in flight plus the file's own batch, and
  * no trigger period is added to it. */
object StreamWorkload {
  private val stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val prefix = "n-ko-"

  final case class Params(backlogRecords: Long, backlogFiles: Int, maxFilesPerTrigger: Int,
                          tailFilesPerS: Double, tailRecordsPerFile: Int,
                          warmupRecords: Long, catchUpRounds: Int)

  object Params {
    def apply(m: Map[String, String]): Params = Params(
      m("backlog_records").toLong, m("backlog_files").toInt, m("max_files_per_trigger").toInt,
      m("tail_files_per_s").toDouble, m("tail_records_per_file").toInt,
      m("warmup_records").toLong, m("catch_up_rounds").toInt)
  }

  /** Seeded backlog written as `files` text files under `dir`, not yet
    * visible to any stream; returns each file with its record count. */
  private def writeBacklog(spark: SparkSession, dir: String, n: Long, files: Int,
                           seed: Long, startDay: String): Seq[(Path, Long)] = {
    val staging = s"$dir/staging-${System.nanoTime()}"
    Tracing.tracer.span("sources", "MockOrderGenerator.orders") {
      MockOrderGenerator.wireJson(MockOrderGenerator.orders(spark, n, seed, startDay))
        .repartition(files).write.text(staging)
    }
    Files.list(Paths.get(staging)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sorted
      .map(f => f -> Files.readAllBytes(f).count(_ == '\n').toLong)
  }

  /** Move files into `landing` one rename each, so the source never
    * lists a partial file. */
  private def land(files: Seq[(Path, Long)], landing: String, tag: String): Unit = {
    Files.createDirectories(Paths.get(landing))
    files.foreach { case (f, _) =>
      Files.move(f, Paths.get(landing, s"$tag-${f.getFileName}"), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def startQuery(spark: SparkSession, kv: KVStore, landing: String, ckpt: String,
                         keyPrefix: String, maxFiles: Int): StreamingQuery = {
    val raw = spark.readStream.option("maxFilesPerTrigger", maxFiles.toLong).text(landing)
    Tracing.tracer.span("streaming", "OrderStreamPipeline.start") {
      new OrderStreamPipeline(kv, keyPrefix, idempotent = false)
        .start(raw, ckpt, Trigger.ProcessingTime(0L))
    }
  }

  /** Land a backlog on the running query and wait until the store holds
    * `base` plus its records; returns the seconds from landing to then. */
  private def catchUp(files: Seq[(Path, Long)], landing: String, tag: String,
                      base: Long): Double = {
    val n = files.map(_._2).sum
    val t0 = System.nanoTime()
    land(files, landing, tag)
    if (!KvStats.await(base + n, 150)) throw new IllegalStateException(
      s"catch-up: ${KvStats.visible - base} of $n records visible after 150 s")
    (KvStats.timeReaching(base + n).get - t0) / 1e9
  }

  def run(o: Opts, rec: Record): Unit = {
    val p = Params(o.params)
    val tr = Tracing.tracer
    val t0 = System.nanoTime()
    var spark = Session.start(o, "session", o.cpus)
    val server = new RespServer()
    server.start()
    val kv = new TimedKV(new RespKVStore("127.0.0.1", server.port))
    val cpu = new CpuListener
    spark.sparkContext.addSparkListener(cpu)
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val root = s"${o.out}/stream"
    val startDay = "2024-01-01"
    val queries = mutable.ArrayBuffer[StreamingQuery]()
    try {
      // Set-up, measured once from a cold JVM: write the backlog, then warm
      // the whole path on a small stream of its own.
      def backlog(dir: String, n: Int, seed: Long, day: String): Seq[Seq[(Path, Long)]] =
        writeBacklog(spark, dir, p.backlogRecords * n, p.backlogFiles * n, seed, day)
          .grouped(p.backlogFiles).toSeq
      val s0 = System.nanoTime()
      val rounds0 = backlog(s"$root/setup", p.catchUpRounds, o.seed, startDay)
      land(writeBacklog(spark, s"$root/setup", p.warmupRecords, 2, o.seed + 1, "2020-01-01"),
        s"$root/setup/warm", "warm")
      val w = startQuery(spark, kv, s"$root/setup/warm", s"$root/setup/warm-ckpt", "w-",
        p.maxFilesPerTrigger)
      w.processAllAvailable(); w.stop()
      val setupS = (System.nanoTime() - s0) / 1e9
      rec.e2e("setup_s", sessionS + setupS, "s")
      rec.info ++= Seq("session_start_s" -> sessionS)

      // Catch-up: the backlog lands on the running, idle query one round at
      // a time; each round is timed from landing until the store holds it.
      val landing = s"$root/landing"
      Files.createDirectories(Paths.get(landing))
      KvStats.reset()
      val sc = spark.sparkContext
      val q = startQuery(spark, kv, landing, s"$root/ckpt", prefix, p.maxFilesPerTrigger)
      queries += q
      q.processAllAvailable()
      var applied = 0L
      def catchUpRound(files: Seq[(Path, Long)], tag: String): (Double, Double, Long, Long) = {
        Bus.drain(sc)
        val cpu0 = cpu.cpuNs.get
        val c0 = KvStats.calls.get; val n0 = KvStats.nanos.get
        val s = catchUp(files, landing, tag, applied)
        Bus.drain(sc)
        applied += files.map(_._2).sum
        rec.attempted += 1
        (s, (cpu.cpuNs.get - cpu0) / 1e9, KvStats.calls.get - c0, KvStats.nanos.get - n0)
      }
      val plain = rounds0.zipWithIndex.map { case (f, i) => catchUpRound(f, s"backlog$i") }
      // The first round still pays for JIT warm-up of the large-batch path
      // (it is kept in result.json); the metrics are the later rounds' median.
      val catchS = Stats.median(plain.drop(1).map(_._1))
      val cpuS = Stats.median(plain.drop(1).map(_._2))
      val ops = new OpsListener(tr)
      var traced = Seq.empty[(Double, Double, Long, Long)]
      var untraced = Seq.empty[(Double, Double, Long, Long)]
      val tracedFromMs = System.currentTimeMillis()
      if (o.trace) {
        // Four more rounds, traced and untraced in turn, so that warm-up
        // still under way cannot pass for tracing overhead.
        val extra = backlog(s"$root/traced", 4, o.seed + 7919, "2021-01-01")
        val res = extra.zipWithIndex.map { case (f, i) =>
          val on = i % 2 == 0
          if (on) { sc.addSparkListener(ops); tr.on = true }
          val r = catchUpRound(f, s"extra$i")
          if (on) { tr.on = false; sc.removeSparkListener(ops) }
          (on, r)
        }
        traced = res.filter(_._1).map(_._2)
        untraced = res.filterNot(_._1).map(_._2)
        sc.addSparkListener(ops); tr.on = true  // the tail is traced too
      }

      // Tail phase: the query is idle, and one generator thread lands
      // files on a fixed schedule (open loop).
      q.processAllAvailable()
      val nChunks = math.max(1, (o.seconds * p.tailFilesPerS).round.toInt)
      val periodNs = (1e9 / p.tailFilesPerS).toLong
      val k = p.tailRecordsPerFile
      val due = new Array[Long](nChunks)
      val landed = new Array[Long](nChunks)
      val pending = new Array[Long](nChunks)
      val base = applied
      val tailCalls0 = KvStats.calls.get
      val tailNanos0 = KvStats.nanos.get
      val tailStartWall = System.currentTimeMillis()
      val gen = new Thread(() => {
        val rnd = new scala.util.Random(o.seed)
        val tmp = Paths.get(s"$root/tail-tmp")
        Files.createDirectories(tmp)
        val g0 = System.nanoTime() + periodNs
        var i = 0
        while (i < nChunks) {
          due(i) = g0 + i * periodNs
          var now = System.nanoTime()
          while (now < due(i)) {
            val ms = (due(i) - now) / 1000000L
            if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait()
            now = System.nanoTime()
          }
          val time = stamp.format(Instant.now())
          val body = (0 until k).map { j =>
            val fee = rnd.nextInt(500)
            s"""{"time":"$time","userId":"${rnd.nextInt(1000)}","courseId":"${rnd.nextInt(500)}",""" +
              s""""fee":"$fee","flag":"${rnd.nextInt(2)}","orderId":"tail-$i-$j"}"""
          }.mkString("", "\n", "\n")
          val f = tmp.resolve(f"tail-$i%06d.json")
          Files.write(f, body.getBytes(UTF_8))
          Files.move(f, Paths.get(landing, f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
          landed(i) = System.nanoTime()
          pending(i) = (i + 1) - (KvStats.visible - base) / k
          i += 1
        }
      }, "tail-generator")
      gen.start()
      gen.join()
      val total = base + nChunks.toLong * k
      val drained = KvStats.await(total, 60)
      rec.attempted += nChunks
      val hist = KvStats.history.asScala.toArray
      val lat = mutable.ArrayBuffer[Double]()
      (0 until nChunks).foreach { i =>
        val need = base + (i + 1).toLong * k
        hist.find(_._2 >= need) match {
          case Some((t, _)) => (0 until k).foreach(_ => lat += (t - due(i)) / 1e6)
          case None => rec.fail(s"tail chunk $i never became visible")
        }
      }
      if (!drained) rec.info("tail_visible_records") = KvStats.visible - base
      val tailCalls = KvStats.calls.get - tailCalls0
      val tailKvMs = (KvStats.nanos.get - tailNanos0) / 1e6
      q.stop()
      queries.clear()
      Bus.drain(sc)
      tr.on = false

      // Correctness: the store equals the batch pipeline over every file.
      val expected = OrderAnalytics.dailyStatsFromWire(spark.read.text(landing)).collect()
      val kvKeys = server.state.hashes.keySet.asScala.filter(_.startsWith(prefix)).toSet
      rec.attempted += expected.length
      expected.foreach { r =>
        val day = r.getString(0)
        val want = Map("total" -> r.getLong(1), "success" -> r.getLong(2),
          "fee" -> r.getDouble(3).toLong)
        val got = server.state.hgetAll(prefix + day)
        if (got != want) rec.fail(s"day $day: store $got, batch $want")
      }
      val extra = kvKeys -- expected.map(prefix + _.getString(0)).toSet
      if (extra.nonEmpty) rec.fail(s"store holds keys no file produced: ${extra.take(5)}")
      val records = applied + nChunks.toLong * k

      val (latP, latTail) = Stats.tail(lat.toSeq)
      rec.e2e("pass_s", catchS, "s")
      rec.e2e("records_per_s", p.backlogRecords / catchS, "1/s")
      rec.e2e("latency_p50_ms", Stats.median(lat.toSeq), "ms")
      rec.e2e("latency_tail_ms", latTail, "ms")
      rec.e2e("cpu_s_per_pass", cpuS, "s")
      rec.e2e("cpu_s_per_mrec", cpuS / (p.backlogRecords / 1e6), "s")

      val prog = progress.progress.asScala.toSeq
      def startMs(pr: StreamingQueryProgress) =
        Instant.parse(pr.timestamp).toEpochMilli
      val tailProg = prog.filter(pr => pr.id == q.id && startMs(pr) >= tailStartWall &&
        pr.numInputRows > 0)
      val genLate = (0 until nChunks).map(i => (landed(i) - due(i)) / 1e6)
      rec.info ++= Seq(
        "records_total" -> records, "day_keys" -> expected.length,
        "catch_up_rounds" -> plain.map(r => Map("wall_s" -> r._1, "cpu_s" -> r._2)),
        "catch_up_batches" -> prog.count(pr => pr.id == q.id && startMs(pr) < tailStartWall &&
          pr.numInputRows > 0),
        "tail_chunks" -> nChunks, "tail_batches" -> tailProg.size,
        "tail_trigger_ms_p50" -> Stats.median(tailProg.map(_.durationMs.get("triggerExecution").doubleValue)),
        "tail_add_batch_ms_p50" -> Stats.median(tailProg.map(_.durationMs.get("addBatch").doubleValue)),
        "tail_backlog_max_files" -> pending.max,
        "latency_samples" -> lat.size, "latency_tail_percentile" -> latP,
        "kv_connections" -> server.accepted)

      if (o.trace) {
        val ts = Stats.median(traced.map(_._1))
        val calls = traced.map(_._3).sum / traced.size.toDouble
        val nanos = traced.map(_._4).sum / traced.size.toDouble
        rec.layer("bench.trace_overhead_pct",
          (ts / Stats.median(untraced.map(_._1)) - 1) * 100, "%")
        rec.layer("bench.gen_late_ms_p99", Stats.quantile(genLate, 0.99), "ms")
        def med(key: String) = Stats.median(tailProg.map(_.durationMs.get(key).doubleValue))
        rec.layer("streaming.apply_s", med("addBatch") / 1e3, "s")
        Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning", "getBatch",
          "latestOffset", "triggerExecution").foreach { key =>
          rec.layer(s"streaming.trigger_ms.$key", med(key), "ms")
        }
        rec.layer("streaming.rows_per_batch", Stats.median(tailProg.map(_.numInputRows.toDouble)), "count")
        rec.layer("streaming.kv.hincrby_calls", calls, "count")
        rec.layer("streaming.kv.hincrby_ms", nanos / 1e6, "ms")
        rec.layer("streaming.kv.tail_hincrby_calls", tailCalls.toDouble, "count")
        rec.layer("streaming.kv.tail_hincrby_ms", tailKvMs, "ms")
        rec.layer("streaming.backlog_max_files", pending.max.toDouble, "count")
        rec.layer("streaming.backlog_end_files", pending.last.toDouble, "count")
        rec.layer("queries.build_jobs", 0, "count")  // no registered query runs here
        Layers.operators(rec, ops.total(_ => true), 1.0)
        rec.layer("operators.exec_s", ops.total(_ => true).jobNs / 1e9, "s")
        rec.layer("sources.input_mb", ops.total(_ => true).inputBytes / 1e6, "MB")
        sc.removeSparkListener(ops)
        // Batch spans from the engine's own progress records; KV calls and
        // jobs hang under the batch whose interval holds them.
        val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
        tracedBatches(prog.filter(pr => pr.id == q.id && startMs(pr) >= tracedFromMs), offsetNs)
        Layers.probes(o, spark, rec)
        Layers.selfTimes(rec, tr)

        // Single-thread baseline: half a round's backlog on local[1].
        spark.stop(); Session.clear()
        spark = Session.start(o, "session-1core", 1)
        val one = writeBacklog(spark, s"$root/one", p.backlogRecords / 2,
          math.max(1, p.backlogFiles / 2), o.seed, startDay)
        KvStats.reset()
        Files.createDirectories(Paths.get(s"$root/one/landing"))
        val q1 = startQuery(spark, kv, s"$root/one/landing", s"$root/one/ckpt", "c1-",
          p.maxFilesPerTrigger)
        queries += q1
        q1.processAllAvailable()
        val s1 = catchUp(one, s"$root/one/landing", "one", 0)
        rec.layer("streaming.records_per_s_1core", one.map(_._2).sum / s1, "1/s")
        q1.stop(); queries.clear()
      }
    } catch {
      case e: Throwable =>
        rec.fail(s"stream: ${e.getClass.getSimpleName}: ${e.getMessage}")
        throw e
    } finally {
      queries.foreach(q => try q.stop() catch { case _: Throwable => () })
      tr.on = false
      spark.stop(); Session.clear()
      RespKVStore.resetConnections()
      server.stop()
    }
  }

  /** Spans for each traced micro-batch, rebuilt from its progress. */
  private def tracedBatches(prog: Seq[StreamingQueryProgress],
                            offsetNs: Long): Unit = {
    val tr = Tracing.tracer
    val batches = prog.filter(_.numInputRows > 0).map { pr =>
      val s = Instant.parse(pr.timestamp).toEpochMilli * 1000000L + offsetNs
      (s, s + pr.durationMs.get("triggerExecution").longValue * 1000000L, pr.batchId)
    }
    val wasOn = tr.on
    tr.on = true
    val ids = batches.map { case (s, e, b) => (s, e, tr.record("streaming", s"batch $b", s, e)) }
    tr.on = wasOn
    tr.reparent { sp =>
      if (sp.parent != 0 || sp.name.startsWith("batch")) None
      else ids.collectFirst { case (s, e, id) if sp.start >= s && sp.start < e => id }
    }
  }
}

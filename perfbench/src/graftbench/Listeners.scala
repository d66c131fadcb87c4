package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Executor CPU time of every finished task, in total and per job group.
  * Always attached: it is the source of the end-to-end CPU metrics, and
  * costs a map lookup per task. */
final class CpuListener extends SparkListener {
  val cpuNs = new AtomicLong
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val ns = e.taskMetrics.executorCpuTime
      cpuNs.addAndGet(ns)
      val g = stageGroup.get(e.stageId)
      if (g != null) byGroup.computeIfAbsent(g, _ => new AtomicLong).addAndGet(ns)
    }

  def groupNs(g: String): Long = Option(byGroup.get(g)).map(_.get).getOrElse(0L)
}

/** Totals of the tasks, stages and jobs of one job group. */
final class OpsAgg {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var jobNs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var inputBytes = 0L; var peakMem = 0L
  /** Per stage: task durations (ms), for the skew ratio. */
  val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  def add(o: OpsAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; jobNs += o.jobNs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; inputBytes += o.inputBytes
    peakMem = math.max(peakMem, o.peakMem)
    o.taskMs.foreach { case (k, v) => taskMs.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= v }
  }

  /** Σ slowest task / Σ mean task over stages with at least two tasks:
    * 1.0 is perfectly balanced. */
  def skew: Double = {
    val st = taskMs.values.filter(_.size >= 2)
    val mx = st.map(_.max.toDouble).sum
    val mean = st.map(d => d.sum.toDouble / d.size).sum
    if (mean > 0) mx / mean else 1.0
  }
}

/** The operators layer seen from outside: every job, stage and task,
  * grouped by the job group the harness set before the call that
  * launched it (jobs without one, i.e. micro-batches, group as
  * "stream"). Each job also becomes an `operators` span. */
final class OpsListener(tracer: Tracer) extends SparkListener {
  private val groups = new ConcurrentHashMap[String, OpsAgg]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  /** Wall-clock ms → nanoTime, for spans built from listener times. */
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def agg(g: String) = groups.computeIfAbsent(g, _ => new OpsAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("stream")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobStart.put(e.jobId, (g, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (g, t0) = Option(jobStart.remove(e.jobId)).getOrElse(("stream", e.time))
    val a = agg(g)
    a.synchronized { a.jobs += 1; a.jobNs += (e.time - t0) * 1000000L }
    val (parent, trace) = Option(tracer.anchors.get(g)).getOrElse((0L, 0L))
    tracer.record("operators", s"job ${e.jobId} [$g]",
      t0 * 1000000L + offsetNs, e.time * 1000000L + offsetNs, parent, trace)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(stageGroup.getOrDefault(e.stageInfo.stageId, "stream"))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = agg(stageGroup.getOrDefault(e.stageId, "stream"))
    a.synchronized {
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
  }

  /** Sum over the groups whose id satisfies `p`. */
  def total(p: String => Boolean): OpsAgg = {
    val t = new OpsAgg
    groups.asScala.foreach { case (g, a) => if (p(g)) a.synchronized(t.add(a)) }
    t
  }
}

/** Per-trigger progress of the streaming query, in arrival order. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

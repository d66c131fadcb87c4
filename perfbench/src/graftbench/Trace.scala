package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One timed call into a layer. `parent` is the span that caused it
  * (0 for a root) and `trace` the root span's id, shared by every span
  * of one query execution or one micro-batch. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, trace: Long, layer: String,
                      name: String, start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Spans nest per thread; a span opened on
  * another thread (executor tasks, listener callbacks) names its parent
  * explicitly. With `on == false` every call is a plain pass-through, so
  * untraced measurements pay nothing but a volatile read. */
final class Tracer {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.getAndIncrement()
      val outer = stack.get
      val (parent, trace) = outer match {
        case (p, t) :: _ => (p, t)
        case Nil => (0L, id)
      }
      stack.set((id, trace) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, parent, trace, layer, name, t0, t1))
      }
    }

  /** Spans that Spark jobs of a job group belong to, by group id. */
  val anchors = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Set the job group for the jobs `body` launches from this thread and
    * run it in a span that those jobs' spans hang under. */
  def group[T](sc: org.apache.spark.SparkContext, group: String, layer: String, name: String)
              (body: => T): T = {
    sc.setJobGroup(group, name)
    try span(layer, name) {
      stack.get.headOption.foreach(anchors.put(group, _))
      body
    } finally sc.clearJobGroup()
  }

  /** Record a span observed after the fact (listener events). */
  def record(layer: String, name: String, start: Long, end: Long,
             parent: Long = 0L, trace: Long = 0L): Long = {
    val id = ids.getAndIncrement()
    if (on) spans.add(Span(id, parent, if (trace == 0L) id else trace,
      layer, name, start, end))
    id
  }

  /** Give parentless spans the parent `f` finds for them (spans built
    * from listener events only learn their cause after the fact). */
  def reparent(f: Span => Option[Long]): Unit = {
    val ss = spans.asScala.toSeq
    spans.clear()
    ss.foreach(s => spans.add(f(s).map(p => s.copy(parent = p, trace = p)).getOrElse(s)))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Self time per layer: a span's duration minus the part of its
    * interval that its children cover (children may overlap each other,
    * e.g. KV calls from parallel tasks, so their union is subtracted). */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, ls) =>
      layer -> ls.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
        cs.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.durNs - covered).toDouble
      }.sum / 1e9
    }
  }

  def writeJsonl(path: java.nio.file.Path, t0: Long): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(Json.write(mutable.LinkedHashMap("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> (s.start - t0) / 1e6, "dur_ms" -> s.durNs / 1e6)))
      w.newLine()
    } finally w.close()
  }
}

/** The process-wide tracer: executor-side wrappers reach it here. */
object Tracing {
  val tracer = new Tracer
}

/** JSON for the record files: Jackson and its Scala module, both of
  * which ship with Spark. Non-finite numbers are written as null. */
object Json {
  val mapper: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(v: Any): String = mapper.writeValueAsString(finite(v))

  private def finite(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => null
    case m: collection.Map[_, _] => m.map { case (k, x) => k.toString -> finite(x) }
    case xs: Iterable[_] => xs.map(finite)
    case other => other
  }
}

/** Accumulates everything a run reports. */
final class Record {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
  def fail(what: String): Unit = synchronized { failures += what }

  private def metrics(m: collection.Map[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

  def toJson: String = Json.write(mutable.LinkedHashMap(
    "correct" -> failures.isEmpty,
    "attempted" -> attempted,
    "failed" -> failures.size.toLong,
    "end_to_end" -> metrics(endToEnd),
    "per_layer" -> metrics(perLayer),
    "failures" -> failures.toSeq,
    "info" -> info))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of the listed percentiles that leaves at least `beyond`
    * samples strictly above its rank; returns (percentile, value). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    val ps = Seq(99.99, 99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0)
    ps.iterator.map { p =>
      val rank = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)
      (p, rank)
    }.collectFirst { case (p, rank) if n - rank - 1 >= beyond => (p, s(rank)) }
      .getOrElse((100.0, if (n == 0) Double.NaN else s.last))
  }
}

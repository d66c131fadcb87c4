package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.{immutable, mutable}
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a query result: row count plus the sum of
  * a 64-bit hash of every row. Columns are taken in name order (as the
  * DuckDB oracle compares them) and floating-point values are hashed at
  * nine significant digits, so summation order inside an aggregate
  * cannot change the digest while any real change of a value does. */
object Digest {
  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      format_string("%.9g", when(d === 0.0, lit(0.0)).otherwise(d))
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => norm(x, e))
    case MapType(_, v, _) if hasFloat(v) => transform_values(c, (_, x) => norm(x, v))
    case StructType(fs) if hasFloat(t) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case _ => c
  }

  /** (rows, digest) of `rows`, the collected result of a query. */
  def of(spark: SparkSession, rows: Array[Row], schema: StructType): (Long, String) =
    of(spark.createDataFrame(rows.toSeq.asJava, schema))

  private def of(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields
    val renamed = df.toDF(fields.indices.map(i => s"_c$i"): _*)
    val cols = fields.indices.sortBy(i => (fields(i).name, i))
      .map(i => norm(col(s"_c$i"), fields(i).dataType))
    val r = renamed.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  def load(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.exists) return Map.empty
    val root = Json.mapper.readTree(f)
    val out = mutable.Map[String, (Long, String)]()
    root.fields().forEachRemaining { e =>
      out(e.getKey) = (e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }
    out.toMap
  }

  def save(path: String, ds: collection.Map[String, (Long, String)]): Unit =
    Json.mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path),
      immutable.TreeMap(ds.toSeq.map { case (q, (n, d)) => q -> Map("rows" -> n, "digest" -> d) }: _*))
}

/** `batch_mix`: passes over a fixed list of registered queries on the
  * sf0.1 tables, in a seed-permuted order.
  *
  * Set-up is the session start plus the first pass, which builds every
  * fingerprint-keyed store. Each timed pass then builds each query
  * (`queries` layer) and collects the returned plan as it is, final sort
  * included (`operators` layer); the [[Digest]] of the collected rows is
  * checked against the expected one outside the timed window. */
object BatchWorkload {
  private final class Pass(val traced: Boolean) {
    var wallNs = 0L
    var cpuNs = 0L
    val buildNs = mutable.LinkedHashMap[String, Long]()
    val execNs = mutable.LinkedHashMap[String, Long]()
    val cpuQNs = mutable.LinkedHashMap[String, Long]()
    def latencyMs(q: String): Double = (buildNs(q) + execNs(q)) / 1e6
  }

  def order(o: Opts, pass: Int): Seq[String] =
    new scala.util.Random(o.seed * 1000003L + pass).shuffle(o.queries)

  def run(o: Opts, rec: Record): Unit = {
    val tr = Tracing.tracer
    val t0 = System.nanoTime()
    val spark = Session.start(o, "session", o.cpus)
    val sc = spark.sparkContext
    val cpu = new CpuListener
    sc.addSparkListener(cpu)
    val sessionS = (System.nanoTime() - t0) / 1e9

    // Set-up pass: cold stores, first builds, first executions.
    val expected = Digest.load(o.digests)
    val seen = mutable.LinkedHashMap[String, (Long, String)]()
    val inputs = mutable.LinkedHashMap[String, Seq[String]]()
    def check(q: String, got: (Long, String), where: String): Unit = expected.get(q) match {
      case Some(want) if want == got => ()
      case None if o.makeDigests => ()
      case want => rec.fail(s"$where $q: result (rows, digest) $got, expected ${want.getOrElse("none")}")
    }
    order(o, 0).foreach { q =>
      rec.attempted += 1
      sc.setJobGroup(s"setup|$q", q)
      try {
        val df = SparkEntry.queries(q)(spark, o.data)
        inputs(q) = df.inputFiles.toSeq.sorted
        val got = Digest.of(spark, df.collect(), df.schema)
        seen(q) = got
        o.resultsDir.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$q"))
        check(q, got, "set-up")
      } catch { case e: Throwable => rec.fail(s"set-up $q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    sc.clearJobGroup()
    if (o.makeDigests) Digest.save(o.digests, expected ++ seen)
    // The oracle SQL next to the results, in the layout tools/check.py reads.
    o.resultsDir.foreach(d => Files.writeString(Paths.get(d, "oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter { case (q, _) => seen.contains(q) })))
    val setupS = (System.nanoTime() - t0) / 1e9

    // Timed passes. A traced run alternates untraced and traced passes,
    // so both see the same warm state and their ratio is the overhead.
    val ops = new OpsListener(tr)
    val passes = mutable.ArrayBuffer[Pass]()
    val stopAt = System.nanoTime() + (o.seconds * 1e9).toLong
    // The first pass is untraced and left out of every figure: it still
    // pays for JIT and codegen warm-up.
    def counted = passes.drop(1)
    def enough = System.nanoTime() >= stopAt &&
      counted.count(!_.traced) >= (if (o.trace) 2 else 4) && (!o.trace || counted.count(_.traced) >= 2)
    var i = 1
    while (!enough) {
      val p = new Pass(o.trace && i % 2 == 0)
      if (p.traced) { sc.addSparkListener(ops); tr.on = true }
      Bus.drain(sc)
      val cpu0 = cpu.cpuNs.get
      val p0 = System.nanoTime()
      order(o, i).foreach { q =>
        rec.attempted += 1
        try tr.span("bench", s"query $q") {
          val b0 = System.nanoTime()
          val df = tr.group(sc, s"build|$i|$q", "queries", s"build $q") {
            SparkEntry.queries(q)(spark, o.data)
          }
          val b1 = System.nanoTime()
          val rows = tr.group(sc, s"exec|$i|$q", "operators", s"exec $q") { df.collect() }
          p.buildNs(q) = b1 - b0
          p.execNs(q) = System.nanoTime() - b1
          sc.setJobGroup(s"digest|$i|$q", q)
          check(q, tr.span("bench", s"digest $q") { Digest.of(spark, rows, df.schema) }, s"pass $i")
          sc.clearJobGroup()
        } catch { case e: Throwable =>
          rec.fail(s"pass $i $q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      p.wallNs = System.nanoTime() - p0
      Bus.drain(sc)
      p.cpuNs = cpu.cpuNs.get - cpu0
      o.queries.foreach(q => p.cpuQNs(q) = cpu.groupNs(s"build|$i|$q") + cpu.groupNs(s"exec|$i|$q"))
      if (p.traced) { tr.on = false; sc.removeSparkListener(ops) }
      passes += p
      i += 1
    }

    // End-to-end metrics, from the untraced passes. A typical pass is the
    // sum over queries of each query's median across passes, so a stall
    // that hits one query in one pass does not move it.
    val plain = counted.filter(!_.traced).toSeq
    val done = o.queries.filter(q => plain.forall(_.execNs.contains(q)))
    val passS = done.map(q => Stats.median(plain.map(_.latencyMs(q)))).sum / 1e3
    val cpuS = done.map(q => Stats.median(plain.map(_.cpuQNs(q) / 1e9))).sum
    // Rows of every table file that some query reads, each file once.
    val inputRows = inputs.values.flatten.toSeq.distinct.map(f => spark.read.parquet(f).count()).sum
    val perQueryMs = done.map(q => q -> Stats.median(plain.map(_.latencyMs(q))))
    rec.e2e("setup_s", setupS, "s")
    rec.e2e("pass_s", passS, "s")
    rec.e2e("records_per_s", inputRows / passS, "1/s")
    rec.e2e("latency_p50_ms", Stats.median(perQueryMs.map(_._2)), "ms")
    rec.e2e("latency_tail_ms", perQueryMs.map(_._2).maxOption.getOrElse(Double.NaN), "ms")
    rec.e2e("cpu_s_per_pass", cpuS, "s")
    rec.e2e("cpu_s_per_mrec", cpuS / (inputRows / 1e6), "s")
    rec.info ++= Seq(
      "session_start_s" -> sessionS,
      "passes_untraced" -> plain.size,
      "pass_s_all" -> passes.map(p => Map("traced" -> p.traced, "wall_s" -> p.wallNs / 1e9,
        "cpu_s" -> p.cpuNs / 1e9)),
      "input_rows_per_pass" -> inputRows,
      "latency" -> "per query, the median over passes; p50 and tail over queries",
      "slowest_query" -> perQueryMs.maxByOption(_._2).map(_._1).getOrElse(""),
      "query_latency_ms" -> perQueryMs.toMap,
      "query_inputs" -> inputs.map { case (q, fs) => q -> fs.map(_.split('/').last) },
      "digests" -> seen.map { case (q, (n, d)) => q -> Map("rows" -> n, "digest" -> d) })

    if (o.trace) {
      val traced = passes.filter(_.traced).toSeq
      val n = traced.size.toDouble
      val tracedS = Stats.median(traced.map(_.wallNs / 1e9))
      val untracedS = Stats.median(counted.filter(!_.traced).map(_.wallNs / 1e9).toSeq)
      rec.layer("bench.trace_overhead_pct", (tracedS / untracedS - 1) * 100, "%")
      val build = ops.total(_.startsWith("build|"))
      val ex = ops.total(_.startsWith("exec|"))
      rec.layer("queries.build_s", traced.map(_.buildNs.values.sum).sum / n / 1e9, "s")
      rec.layer("queries.build_jobs", build.jobs / n, "count")
      o.queries.foreach { q =>
        rec.layer(s"queries.build_s.$q", traced.map(_.buildNs.getOrElse(q, 0L)).sum / n / 1e9, "s")
      }
      rec.layer("operators.exec_s", traced.map(_.execNs.values.sum).sum / n / 1e9, "s")
      o.queries.foreach { q =>
        rec.layer(s"operators.exec_s.$q", traced.map(_.execNs.getOrElse(q, 0L)).sum / n / 1e9, "s")
      }
      Layers.operators(rec, ex, n)
      val all = ops.total(_ => true)
      rec.layer("sources.input_mb", all.inputBytes / n / 1e6, "MB")
      // This workload runs no streaming query.
      Seq("streaming.kv.hincrby_calls", "streaming.rows_per_batch",
        "streaming.backlog_max_files").foreach(rec.layer(_, 0, "count"))
      Layers.probes(o, spark, rec)
      Layers.selfTimes(rec, tr)
    }
    spark.stop()
    Session.clear()
  }
}

package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Options of one run; `perfbench/run.py` fills them from
  * `perfbench/workloads.json` and its own command line. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      out: String, data: String, cpus: Int, queries: Seq[String],
                      digests: String, makeDigests: Boolean,
                      resultsDir: Option[String], params: Map[String, String])

object Session {
  /** A session whose warehouse, local and temporary directories are new
    * directories of this run, so no store, memo or checkpoint of an
    * earlier run (or of the repository's own `spark-warehouse/`) is seen. */
  def start(o: Opts, tag: String, cpus: Int): SparkSession = {
    val base = s"${o.out}/$tag"
    Files.createDirectories(Paths.get(s"$base/local"))
    System.setProperty("spark.sql.warehouse.dir", s"$base/warehouse")
    System.setProperty("spark.local.dir", s"$base/local")
    System.setProperty("spark.sql.streaming.checkpointLocation", s"$base/checkpoints")
    GraftSession.local(cpus.toString)
  }

  def clear(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Entry point: `graftbench.Main --key value ...` (see run.py). Writes
  * `result.json` (every metric, the checks and run details) and, for a
  * traced run, `spans.jsonl` into `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def list(k: String) = kv.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val o = Opts(
      workload = kv("workload"), seed = kv("seed").toLong, seconds = kv("seconds").toDouble,
      trace = kv("trace") == "1", out = kv("out"), data = kv("data"),
      cpus = kv.getOrElse("cpus", "4").toInt, queries = list("queries"),
      digests = kv.getOrElse("digests", ""),
      makeDigests = kv.get("make-digests").contains("1"),
      resultsDir = kv.get("results"),
      params = kv.collect { case (k, v) if k.startsWith("p.") => k.drop(2) -> v })
    val rec = new Record
    val t0 = System.nanoTime()
    val ok = try {
      if (o.workload == "orders_stream") StreamWorkload.run(o, rec)
      else BatchWorkload.run(o, rec)
      true
    } catch { case e: Throwable =>
      e.printStackTrace()
      rec.fail(s"run aborted: $e")
      false
    }
    rec.info("wall_s") = (System.nanoTime() - t0) / 1e9
    Files.write(Paths.get(o.out, "result.json"), rec.toJson.getBytes(UTF_8))
    if (o.trace) Tracing.tracer.writeJsonl(Paths.get(o.out, "spans.jsonl"), t0)
    System.exit(if (ok) 0 else 1)
  }
}

package graftbench

import graft.Tables
import graft.functions.{McVideoKernels, McVlcKernels, MediaKernels, Mpeg1Kernels,
  TextKernels, VectorKernels}
import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** Per-layer metrics shared by the workloads, and the two layer probes
  * every traced run makes: table scans (`sources`) and the static
  * kernels called without Spark (`functions`). */
object Layers {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Listener totals over `n` passes, as per-pass operators metrics. */
  def operators(rec: Record, a: OpsAgg, n: Double): Unit = {
    rec.layer("operators.jobs", a.jobs / n, "count")
    rec.layer("operators.stages", a.stages / n, "count")
    rec.layer("operators.tasks", a.tasks / n, "count")
    rec.layer("operators.cpu_s", a.cpuNs / n / 1e9, "s")
    rec.layer("operators.gc_s", a.gcMs / n / 1e3, "s")
    rec.layer("operators.shuffle_read_mb", a.shuffleRead / n / 1e6, "MB")
    rec.layer("operators.shuffle_write_mb", a.shuffleWrite / n / 1e6, "MB")
    rec.layer("operators.spill_mb", a.spill / n / 1e6, "MB")
    rec.layer("operators.peak_exec_mem_mb", a.peakMem / 1e6, "MB")
    rec.layer("operators.task_skew", a.skew, "ratio")
  }

  /** Self time of each layer over every traced span of the run. */
  def selfTimes(rec: Record, tr: Tracer): Unit = {
    val self = tr.selfSeconds
    Seq("bench", "queries", "operators", "sources", "functions", "streaming").foreach { l =>
      rec.layer(s"$l.self_s", self.getOrElse(l, 0.0), "s")
    }
  }

  def probes(o: Opts, spark: SparkSession, rec: Record): Unit = {
    val tr = Tracing.tracer
    val was = tr.on
    tr.on = true
    try { scans(o, spark, rec); kernels(o, spark, rec) } finally tr.on = was
  }

  private def table(t: Tables, name: String): DataFrame = name match {
    case "region" => t.region
    case "nation" => t.nation
    case "customer" => t.customer
    case "supplier" => t.supplier
    case "part" => t.part
    case "orders" => t.orders
    case "lineitem" => t.lineitem
    case "events" => t.events
    case "documents" => t.documents
    case "embeddings" => t.embeddings
  }

  /** Full scan of every table through its `Tables` accessor to the noop
    * sink; the median of three per table. */
  private def scans(o: Opts, spark: SparkSession, rec: Record): Unit = {
    val t = Tables(spark, o.data)
    val per = tables.map { name =>
      val s = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Tracing.tracer.group(spark.sparkContext, s"scan|$name", "sources", s"scan $name") {
          table(t, name).write.mode("overwrite").format("noop").save()
        }
        (System.nanoTime() - t0) / 1e9
      }
      val m = Stats.median(s)
      rec.layer(s"sources.scan_s.$name", m, "s")
      m
    }
    rec.layer("sources.scan_s", per.sum, "s")
  }

  /** Time `f` over all `inputs` on this thread, repeated until 0.3 s has
    * passed (after one untimed warm-up round); MB/s over `bytes`. */
  private def kernel[A](rec: Record, name: String, inputs: Array[A], bytes: Long)
                       (f: A => AnyRef): Unit = {
    var nulls = 0
    inputs.foreach(x => if (f(x) == null) nulls += 1)
    var rounds = 0
    val t0 = System.nanoTime()
    Tracing.tracer.span("functions", name) {
      while (rounds == 0 || System.nanoTime() - t0 < 300000000L) {
        var i = 0
        while (i < inputs.length) { f(inputs(i)); i += 1 }
        rounds += 1
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    rec.layer(s"functions.$name.mb_per_s", bytes.toDouble * rounds / s / 1e6, "MB/s")
    if (nulls == inputs.length) rec.fail(s"kernel $name returned null for every input")
  }

  /** The static kernels on inputs built, untimed, from the sf0.1 tables. */
  private def kernels(o: Opts, spark: SparkSession, rec: Record): Unit = {
    val t = Tables(spark, o.data)
    val docs = t.documents.select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), UTF8String.fromString(r.getString(1))))
    val texts = docs.map(_._2)
    val textBytes = texts.map(_.numBytes().toLong).sum

    val ranks = TextKernels.bpeTable(TextAnalysis.bpeMerges(
      TextAnalysis.bpeTrainFast(t.documents, col("text"), nMerges = 8)))
    kernel(rec, "text.bpe_encode", texts, textBytes)(x => TextKernels.bpeEncode(x, ranks))

    val pieces = TextAnalysis.unigramPieces(
      TextAnalysis.unigramTrainBytes(t.documents, col("text")).localCheckpoint())
    val uni = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
    pieces.foreach { case (p, v) => uni.put(p, java.lang.Long.valueOf(v)) }
    kernel(rec, "text.unigram_segment", texts, textBytes)(x => TextKernels.unigramSegment(x, uni, 4))
    kernel(rec, "text.minhash", texts, textBytes)(x => TextKernels.shingleMinhash(x, 3, 64))
    kernel(rec, "text.span_hashes", texts, textBytes)(x => TextKernels.spanHashes(x, 6))

    val vecs: Array[ArrayData] = t.embeddings.orderBy(col("vec_id")).select(col("embedding"))
      .collect().map(r => new GenericArrayData(r.getSeq[Float](0).map(_.toDouble).toArray))
    val dim = vecs.head.numElements()
    val vecBytes = vecs.length.toLong * dim * 8
    val m = 16; val ks = 16; val dsub = dim / m
    val books = Array.tabulate(m)(j => Array.tabulate(ks * dsub) { i =>
      vecs(i / dsub).getDouble(j * dsub + i % dsub) })
    kernel(rec, "vector.pq_encode", vecs, vecBytes)(v => VectorKernels.pqEncode(v, books))
    val cents = Array.tabulate(64)(c => vecs(c * 7 % vecs.length).toDoubleArray())
    val cn2 = cents.map(c => c.map(x => x * x).sum)
    kernel(rec, "vector.nearest_centroid", vecs, vecBytes)(
      v => VectorKernels.nearestCentroid(v, cents, cn2))

    val ids = docs.map(_._1).take(500)
    val pngs = ids.map { id =>
      MediaKernels.pngEncodeSynth(id, (id % 21 + 4).toInt, (id % 17 + 4).toInt,
        Array(1, 3, 4)((id % 3).toInt))
    }
    kernel(rec, "media.png_decode", pngs, pngs.map(_.length.toLong).sum)(
      b => MediaKernels.pngDecodeStats(b))

    // Round trips: MB are the luma samples of the synthesized frames.
    val vid = ids.take(200)
    def luma(w: Long => Long, h: Long => Long, n: Long => Long) =
      vid.map(id => w(id) * h(id) * n(id)).sum
    kernel(rec, "media.mpeg1_roundtrip", vid,
      luma(_ % 14 + 18, _ % 10 + 18, _ % 2 + 2))(id => Mpeg1Kernels.mpeg1RoundTripStats(
      id, (id % 14 + 18).toInt, (id % 10 + 18).toInt, (id % 2 + 2).toInt, 24))
    kernel(rec, "media.mc_roundtrip", vid, luma(_ % 11 + 10, _ % 9 + 10, _ % 4 + 2))(
      id => McVideoKernels.mcRoundTripStats(
        id, (id % 11 + 10).toInt, (id % 9 + 10).toInt, (id % 4 + 2).toInt, 12))
    kernel(rec, "media.vlc_roundtrip", vid, luma(_ % 11 + 10, _ % 9 + 10, _ % 4 + 2))(
      id => McVlcKernels.mcVlcRoundTripStats(
        id, (id % 11 + 10).toInt, (id % 9 + 10).toInt, (id % 4 + 2).toInt, 12))
  }
}

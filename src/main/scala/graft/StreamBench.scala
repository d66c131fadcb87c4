package graft

import org.apache.spark.sql.SparkSession

/** Ingest-path throughput probes, one per `SPARK_GRAFT_STREAM` mode, each
  * printing one JSON metric line. The order stream's sink throughput and
  * latency are measured by `python3 perfbench/run.py --workload
  * orders_stream`.
  * Usage: SPARK_GRAFT_STREAM=<mode> runMain graft.StreamBench
  *        [numRecords] [numBatches]
  */
object StreamBench {
  private val modes: Seq[(String, (SparkSession, Long, Int) => Unit)] = Seq(
    ("span", (s, n, b) => spanIngest(s, n.toInt, b)),
    ("docs", (s, n, b) => docsIngest(s, n.toInt, b)),
    ("docsstream", (s, n, b) => docsStreamIngest(s, n.toInt, b)),
    ("gatedstream", (s, n, b) => gatedStreamIngest(s, n.toInt, b)),
    ("maint", (s, n, _) => docsMaintenance(s, n.toInt)),
    ("vecsmaint", (s, n, _) => vecsMaintenance(s, n)),
    ("vecsstream", (s, n, b) => vecsStreamIngest(s, n, b)),
    ("vecsloop", (s, n, b) => vecsLoop(s, n, b)),
    ("emb", (s, n, b) => embIngest(s, n, b)),
    ("neardup", (s, n, b) => nearDupStream(s, n.toInt, b)),
    ("kll", (s, n, b) => kllStream(s, n, b)))

  def main(args: Array[String]): Unit = {
    val mode = sys.env.getOrElse("SPARK_GRAFT_STREAM", "")
    val run = modes.toMap.getOrElse(mode, {
      System.err.println(s"usage: SPARK_GRAFT_STREAM=<${modes.map(_._1).mkString("|")}> " +
        "runMain graft.StreamBench [numRecords] [numBatches]")
      sys.exit(2)
    })
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    run(spark, n, batches)
    spark.stop()
  }

  /** Price the fenced streaming KLL table: per-batch fold throughput
    * (one bucket-keyed sketch aggregate of the delta + the
    * bucket-table-sized union-reaggregate behind the fence) and the
    * stored-table range-query latency that is the feature's entire
    * point. */
  private def kllStream(spark: SparkSession, n: Long, batches: Int): Unit = {
    import graft.streaming.StreamingQuantiles
    import org.apache.spark.sql.functions._
    StreamingQuantiles.drop(spark, "kbench")
    StreamingQuantiles.provision(spark, "kbench")
    def batchOf(b: Int) = spark.range(n)
      .select(pmod(col("id") + b, lit(30)).as("bucket"),
        pmod(xxhash64(col("id"), lit(b)), lit(100000)).cast("double")
          .as("value"))
      .localCheckpoint(true) // materialize so generation isn't timed
    val bs = (0 until batches).map(batchOf)
    val t0 = System.nanoTime()
    bs.zipWithIndex.foreach { case (df, i) =>
      StreamingQuantiles.applyBatch(spark, "kbench", df, i.toLong)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val tq = System.nanoTime()
    val q = StreamingQuantiles.quantiles(spark, "kbench", 10L, 16L,
      Seq(0.5, 0.99))
    val qsec = (System.nanoTime() - tq) / 1e9
    println(f"""{"metric":"kll_stream_rows_per_sec","value":${(n * batches / sec)}%.0f,"rows":${n * batches},"batches":$batches,"apply_sec":$sec%.2f,"range_query_sec":$qsec%.3f,"p50":${q.head}%.1f}""")
    StreamingQuantiles.drop(spark, "kbench")
  }

  /** Synthetic 60-token documents over a small vocabulary, text a pure
    * hash of (doc_id, position, salt): distinct salts give unrelated
    * texts, the same salt reproduces them — the generator every docs-path
    * mode shares. The vocabulary is 50k hash-derived tokens: wide enough
    * that the spanK-token window space never saturates at bench corpus
    * sizes (a 20-word vocabulary has only 20^6 = 64M 6-grams, and an
    * 800k-doc corpus occupies ~half of them — every fresh doc then trips
    * the span-overlap rejection by birthday collision alone, and the
    * probe measures vocabulary exhaustion instead of admission cost). */
  private def synthDocs(spark: SparkSession)(from: Long, nDocs: Long,
                                             salt: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(from, from + nDocs)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(59)),
          i => concat(lit("tok"),
            pmod(xxhash64(col("id"), i, lit(salt)), lit(50000))))).as("text"))
  }

  /** Ingest-time span-check throughput (`SPARK_GRAFT_STREAM=span`): the
    * corpus window-hash index is built and bucketed ONCE for `n` docs,
    * then `batches` fresh batches of `n/4` new docs each run
    * [[graft.operators.Dedup.spanIncrementalStats]] against it — the
    * per-micro-batch cost of the streaming composition, with the index
    * side exchange-free. Prints new-docs/sec. */
  private def spanIngest(spark: SparkSession, n: Int, batches: Int): Unit = {
    import org.apache.spark.sql.functions._
    val corpus = synthDocs(spark) _
    graft.sources.Bucketing.writeBucketed(
      graft.operators.Dedup.spanIndex(corpus(0, n, 0), col("doc_id"), col("text"), k = 6),
      "span_ingest_idx", Seq("wh"), buckets = 32)
    val batchN = math.max(n / 4, 1)
    // warmup
    graft.operators.Dedup.spanIncrementalStats(spark.table("span_ingest_idx"),
        corpus(n, 1000, 99), col("doc_id"), col("text"), k = 6)
      .agg(count(lit(1))).head()
    val t0 = System.nanoTime()
    var hits = 0L
    (0 until batches).foreach { b =>
      val r = graft.operators.Dedup.spanIncrementalStats(
          spark.table("span_ingest_idx"),
          corpus(n + b.toLong * batchN, batchN, b + 1),
          col("doc_id"), col("text"), k = 6)
        .agg(count(lit(1)).as("docs"), sum(col("n_indexed_windows")).as("h"))
        .head()
      hits += r.getLong(1)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val total = batchN.toLong * batches
    println(f"""{"metric":"span_ingest_docs_per_sec","value":${total / sec}%.0f,"new_docs":$total,"corpus":$n,"sec":$sec%.2f,"indexed_window_hits":$hits}""")
    spark.sql("DROP TABLE IF EXISTS span_ingest_idx")
  }

  /** Full docs-path admission-LOOP throughput (`SPARK_GRAFT_STREAM=docs`):
    * the [[graft.sources.IndexStore]] is built ONCE for `n` docs, then
    * `batches` batches of ~`n/4` docs each (fresh, plus 1-in-200 planted
    * exact re-crawls and 1-in-200 planted near-dup drifts of corpus docs)
    * run the COMPLETE per-batch cycle: [[IngestApp.admitDocs]] (bloom →
    * minhash-vs-corpus → span-vs-corpus → within-batch) followed by
    * [[graft.sources.IndexStore.appendDocs]] of the admissions — so later
    * batches are admitted against state grown by earlier ones, exactly
    * the production loop. Prints docs/sec over the timed loop (build
    * reported separately). */
  private def docsIngest(spark: SparkSession, n: Int, batches: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    val corpus = synthDocs(spark) _
    val p = "docs_ingest_store"
    IndexStore.dropDocs(spark, p)
    val tb = System.nanoTime()
    IndexStore.buildDocs(corpus(0, n, 0), col("doc_id"), col("text"), p)
    val buildSec = (System.nanoTime() - tb) / 1e9
    val batchN = math.max(n / 4, 1)
    def batchOf(b: Int): org.apache.spark.sql.DataFrame = {
      val fresh = corpus(n.toLong + b.toLong * batchN, batchN, b + 1)
      val src = corpus((b % 4).toLong * batchN, batchN, 0)
      val exacts = src.filter(pmod(col("doc_id"), lit(200)) === 0)
        .select((col("doc_id") + n.toLong * (batches + 2 + b)).as("doc_id"),
          col("text"))
      val nears = src.filter(pmod(col("doc_id"), lit(200)) === 100)
        .select((col("doc_id") + n.toLong * (2 * batches + 4 + b)).as("doc_id"),
          concat(col("text"), lit(" drifted suffix tok")).as("text"))
      fresh.unionByName(exacts).unionByName(nears)
    }
    // warmup: admission only, nothing appended
    IngestApp.admitDocs(spark, p, batchOf(0).limit(1000))._2.count()
    var admitted = 0L
    var rejected = 0L
    var total = 0L
    var admitNs = 0L // admission joins + checkpointed decision frames
    var appendNs = 0L // bucketed delta writes + bloom merge
    val t0 = System.nanoTime()
    (0 until batches).foreach { b =>
      val batch = batchOf(b)
      total += batch.count()
      val ta = System.nanoTime()
      val (_, rej) = IngestApp.admitDocs(spark, p, batch)
      // ONE admission execution (checkpointed rejects — also required
      // before the append mutates the tables the plan reads); admitted
      // re-derived as batch anti-join reject ids, the main's shape
      val rejM = rej.localCheckpoint(true)
      rejected += rejM.select(col("doc_id")).distinct().count()
      val admM = batch.join(rejM.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti").localCheckpoint(true)
      admitted += admM.count()
      admitNs += System.nanoTime() - ta
      val tp = System.nanoTime()
      IndexStore.appendDocs(admM, col("doc_id"), col("text"), p)
      appendNs += System.nanoTime() - tp
    }
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"docs_ingest_docs_per_sec","value":${total / sec}%.0f,"docs":$total,"corpus":$n,"batches":$batches,"sec":$sec%.2f,"admit_sec":${admitNs / 1e9}%.2f,"append_sec":${appendNs / 1e9}%.2f,"build_sec":$buildSec%.2f,"admitted":$admitted,"rejected":$rejected}""")
    IndexStore.dropDocs(spark, p)
  }

  /** The admission loop as a STRUCTURED STREAM, timed end-to-end
    * (`SPARK_GRAFT_STREAM=docsstream`): the same store and batch shapes
    * as [[docsIngest]], but the batches arrive as parquet files in a
    * source directory and [[graft.streaming.StreamingIngest.docsStream]]
    * drains them as `maxFilesPerTrigger=1` micro-batches — so the
    * printed docs/sec additionally carries the streaming machinery's
    * overhead (checkpoint WAL, file-source listing, rejects log,
    * per-batch session re-home) over the loop mode's number. */
  private def docsStreamIngest(spark: SparkSession, n: Int, batches: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    val corpus = synthDocs(spark) _
    val p = "docs_stream_store"
    IndexStore.dropDocs(spark, p)
    val srcDir = java.nio.file.Files.createTempDirectory("bench-src").toString
    val outDir = java.nio.file.Files.createTempDirectory("bench-out").toString
    try {
      val tb = System.nanoTime()
      IndexStore.buildDocs(corpus(0, n, 0), col("doc_id"), col("text"), p)
      val buildSec = (System.nanoTime() - tb) / 1e9
      val batchN = math.max(n / 4, 1)
      var total = 0L
      (0 until batches).foreach { b =>
        val fresh = corpus(n.toLong + b.toLong * batchN, batchN, b + 1)
        val src = corpus((b % 4).toLong * batchN, batchN, 0)
        val exacts = src.filter(pmod(col("doc_id"), lit(200)) === 0)
          .select((col("doc_id") + n.toLong * (batches + 2 + b)).as("doc_id"),
            col("text"))
        val batch = fresh.unionByName(exacts)
        total += batch.count()
        batch.coalesce(1).write.mode("append").parquet(srcDir)
      }
      val t0 = System.nanoTime()
      graft.streaming.StreamingIngest.docsStream(spark, srcDir, p, outDir,
        readerOptions = Map("maxFilesPerTrigger" -> "1")).awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val admitted = spark.table(IndexStore.docsTable(p)).count() - n
      val rejected = spark.read.parquet(s"$outDir/rejects").count()
      println(f"""{"metric":"docs_stream_docs_per_sec","value":${total / sec}%.0f,"docs":$total,"corpus":$n,"batches":$batches,"sec":$sec%.2f,"build_sec":$buildSec%.2f,"admitted":$admitted,"rejected":$rejected}""")
    } finally {
      IndexStore.dropDocs(spark, p)
      Seq(srcDir, outDir).foreach { d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
      }
    }
  }

  /** MODEL-GATED streaming ingest end-to-end
    * (`SPARK_GRAFT_STREAM=gatedstream`): the
    * [[graft.streaming.StreamingIngest.docsStreamGated]] composition —
    * trained LM perplexity cutoff + NB classifier in front of the
    * bloom/LSH/span admission — timed against the UNGATED
    * [[graft.streaming.StreamingIngest.docsStream]] on identical batch
    * shapes (80% fresh clean, 10% disjoint-vocabulary junk the models
    * must catch, 10% exact corpus dups the dedup stages must catch),
    * plus each gate stage timed in ISOLATION on one batch so the gate's
    * cost is attributed per stage, not inferred from the difference.
    * Models are trained once on the trusted corpus and pinned
    * (localCheckpoint) before the stream starts — the deployment
    * shape. */
  private def gatedStreamIngest(spark: SparkSession, n: Int, batches: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    import graft.operators.TextAnalysis
    val corpus = synthDocs(spark) _
    def junkDocs(from: Long, nDocs: Long, salt: Int) =
      spark.range(from, from + nDocs)
        .select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(59)),
            i => concat(lit("zzq"),
              pmod(xxhash64(col("id"), i, lit(salt)), lit(50000))))).as("text"))
    val batchN = math.max(n / 4, 1)
    def batchOf(b: Int): org.apache.spark.sql.DataFrame = {
      val fresh = corpus(n.toLong + b.toLong * batchN, batchN * 8L / 10, b + 1)
      val junk = junkDocs(10000000L + b.toLong * batchN, batchN / 10, b + 17)
      val dups = corpus((b % 4).toLong * batchN, batchN / 10, 0)
        .select((col("doc_id") + n.toLong * (batches + 2 + b)).as("doc_id"),
          col("text"))
      fresh.unionByName(junk).unionByName(dups)
    }
    // models: LM on the trusted corpus (cutoff = its p99.9 self-score +
    // margin), NB on trusted-vs-junk labels — trained once, pinned
    val tm = System.nanoTime()
    val lm0 = TextAnalysis.ngramTrain(corpus(0, n, 0), col("text"), minCount = 2)
    val lm = lm0.copy(uni = lm0.uni.localCheckpoint(true),
      bi = lm0.bi.localCheckpoint(true), tri = lm0.tri.localCheckpoint(true),
      total = lm0.total.localCheckpoint(true))
    val cutoff = TextAnalysis.ngramScore(corpus(0, n, 0), col("doc_id"),
        col("text"), lm)
      .agg(expr("percentile(avg_neg_logp, 0.999)")).head().getDouble(0) + 0.5
    val labeled = corpus(0, n, 0).withColumn("y", lit(true))
      .unionByName(junkDocs(20000000L, n / 4, 99).withColumn("y", lit(false)))
    val nb0 = TextAnalysis.nbTrain(labeled, col("y"), col("text"))
    val nb = nb0.copy(tok = nb0.tok.localCheckpoint(true),
      totals = nb0.totals.localCheckpoint(true))
    val gate = IngestApp.ModelGate(lm = Some((lm, cutoff)), nb = Some(nb))
    val trainSec = (System.nanoTime() - tm) / 1e9

    def runStream(gated: Boolean): (Double, Long, Long, Map[String, Long]) = {
      val p = if (gated) "gated_stream_store" else "ungated_stream_store"
      IndexStore.dropDocs(spark, p)
      val srcDir = java.nio.file.Files.createTempDirectory("gate-src").toString
      val outDir = java.nio.file.Files.createTempDirectory("gate-out").toString
      try {
        IndexStore.buildDocs(corpus(0, n, 0), col("doc_id"), col("text"), p)
        var total = 0L
        (0 until batches).foreach { b =>
          val batch = batchOf(b)
          total += batch.count()
          batch.coalesce(1).write.mode("append").parquet(srcDir)
        }
        val t0 = System.nanoTime()
        val q =
          if (gated)
            graft.streaming.StreamingIngest.docsStreamGated(spark, srcDir, p,
              outDir, minQuality = 0.0, models = gate,
              readerOptions = Map("maxFilesPerTrigger" -> "1"))
          else
            graft.streaming.StreamingIngest.docsStream(spark, srcDir, p,
              outDir, readerOptions = Map("maxFilesPerTrigger" -> "1"))
        q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        val admitted = spark.table(IndexStore.docsTable(p)).count() - n
        val reasons = spark.read.parquet(s"$outDir/rejects")
          .groupBy(col("reason")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        (sec, total, admitted, reasons)
      } finally {
        IndexStore.dropDocs(spark, p)
        Seq(srcDir, outDir).foreach { d =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
        }
      }
    }

    val (gSec, gTotal, gAdmitted, gReasons) = runStream(gated = true)
    val (uSec, uTotal, uAdmitted, uReasons) = runStream(gated = false)

    // per-stage attribution on ONE materialized batch against a fresh
    // store (admission only, nothing appended)
    val p = "gate_attr_store"
    IndexStore.dropDocs(spark, p)
    val stage =
      try {
        IndexStore.buildDocs(corpus(0, n, 0), col("doc_id"), col("text"), p)
        val batch = batchOf(0).localCheckpoint(true)
        def timed(f: => Long): (Double, Long) = {
          val t = System.nanoTime()
          val c = f
          ((System.nanoTime() - t) / 1e9, c)
        }
        val (qualSec, _) = timed(
          IngestApp.qualityRejects(batch, minQuality = 0.5).count())
        val (lmSec, lmRej) = timed(
          TextAnalysis.ngramScore(batch, col("doc_id"), col("text"), lm)
            .filter(col("avg_neg_logp") > cutoff).count())
        val (nbSec, nbRej) = timed(
          TextAnalysis.nbScore(batch, col("doc_id"), col("text"), nb)
            .filter(!col("predict_pos")).count())
        val (dedupSec, dedupRej) = timed(
          IngestApp.admitDocs(spark, p, batch)._2
            .select(col("doc_id")).distinct().count())
        f""""stage_quality_sec":$qualSec%.2f,"stage_lm_sec":$lmSec%.2f,"stage_lm_rejects":$lmRej,"stage_nb_sec":$nbSec%.2f,"stage_nb_rejects":$nbRej,"stage_dedup_sec":$dedupSec%.2f,"stage_dedup_rejects":$dedupRej"""
      } finally IndexStore.dropDocs(spark, p)

    def reasonsJson(m: Map[String, Long]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(f"""{"metric":"gated_stream_docs_per_sec","gated_value":${gTotal / gSec}%.0f,"ungated_value":${uTotal / uSec}%.0f,"docs":$gTotal,"corpus":$n,"batches":$batches,"gated_sec":$gSec%.2f,"ungated_sec":$uSec%.2f,"train_sec":$trainSec%.2f,"lm_cutoff":$cutoff%.3f,"gated_admitted":$gAdmitted,"ungated_admitted":$uAdmitted,"gated_reasons":${reasonsJson(gReasons)},"ungated_reasons":${reasonsJson(uReasons)},$stage}""")
  }

  /** Maintenance-operation cost on a GROWN docs store
    * (`SPARK_GRAFT_STREAM=maint`): build `n` docs, append `n/4` more
    * (so every table holds two file sets per bucket), then time the
    * three maintenance rewrites a long-running deployment schedules —
    * [[graft.sources.IndexStore.compactDocs]],
    * [[graft.sources.IndexStore.removeDocs]] of a 1-in-200 id sample
    * (the takedown path, including its bloom rebuild), and
    * [[graft.sources.IndexStore.rebuildDocs]] under the same config
    * (the re-provisioning worst case: every index re-derived). Each is
    * a full-store rewrite by design; the number that matters is the
    * wall relative to the build it replaces (re-provisioning should
    * cost ≈ one build) and the appends it amortizes over. */
  private def docsMaintenance(spark: SparkSession, n: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    val corpus = synthDocs(spark) _
    val p = "docs_maint_store"
    IndexStore.dropDocs(spark, p)
    try {
      val tb = System.nanoTime()
      IndexStore.buildDocs(corpus(0, n, 0), col("doc_id"), col("text"), p)
      val buildSec = (System.nanoTime() - tb) / 1e9
      IndexStore.appendDocs(corpus(n, n / 4, 1), col("doc_id"), col("text"), p)
      val total = n + n / 4
      val t1 = System.nanoTime()
      IndexStore.compactDocs(spark, p)
      val compactSec = (System.nanoTime() - t1) / 1e9
      val rmIds = spark.range(0, total).filter(pmod(col("id"), lit(200)) === 7)
        .select(col("id").as("doc_id"))
      val nRm = rmIds.count()
      val t2 = System.nanoTime()
      IndexStore.removeDocs(spark, p, rmIds)
      val removeSec = (System.nanoTime() - t2) / 1e9
      val cfg = IndexStore.docConfig(spark, p)
      val t3 = System.nanoTime()
      IndexStore.rebuildDocs(spark, p, cfg.copy(bloomN = 0L))
      val rebuildSec = (System.nanoTime() - t3) / 1e9
      val left = spark.table(IndexStore.docsTable(p)).count()
      println(f"""{"metric":"docs_maint_sec","corpus":$total,"docs_left":$left,"removed":$nRm,"build_sec":$buildSec%.2f,"compact_sec":$compactSec%.2f,"remove_sec":$removeSec%.2f,"rebuild_sec":$rebuildSec%.2f}""")
    } finally IndexStore.dropDocs(spark, p)
  }

  /** Maintenance-operation cost on a GROWN vectors store
    * (`SPARK_GRAFT_STREAM=vecsmaint`) — [[docsMaintenance]]'s contract
    * over the vecs-store rewrites: build `n` vectors, append `n/4` more
    * (two file sets per bucket in both tables), then time
    * [[graft.sources.IndexStore.compactVecs]],
    * [[graft.sources.IndexStore.removeVecs]] of a 1-in-200 id sample,
    * and [[graft.sources.IndexStore.rebuildVecs]] with auto-provisioned
    * planes against the grown corpus (the re-provisioning case the
    * helper exists for: build-time planes were sized for `n`, the store
    * now holds 1.25·n). */
  private def vecsMaintenance(spark: SparkSession, n: Long): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    def vecs(from: Long, nVecs: Long, salt: Int) = spark.range(from, from + nVecs)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => ((pmod(xxhash64(col("id"), d, lit(salt)), lit(1000)).cast("double")
            - 500.0) / 500.0)).as("embedding"))
    val p = "vecs_maint_store"
    IndexStore.dropVecs(spark, p)
    try {
      val tb = System.nanoTime()
      IndexStore.buildVecs(vecs(0, n, 0), col("vec_id"), col("embedding"), p)
      val buildSec = (System.nanoTime() - tb) / 1e9
      IndexStore.appendVecs(vecs(n, n / 4, 1), col("vec_id"), col("embedding"), p)
      val total = n + n / 4
      val t1 = System.nanoTime()
      IndexStore.compactVecs(spark, p)
      val compactSec = (System.nanoTime() - t1) / 1e9
      val rmIds = spark.range(0, total).filter(pmod(col("id"), lit(200)) === 7)
        .select(col("id").as("vec_id"))
      val nRm = rmIds.count()
      val t2 = System.nanoTime()
      IndexStore.removeVecs(spark, p, rmIds)
      val removeSec = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      IndexStore.rebuildVecs(spark, p) // nPlanes=0: re-provision at 1.25·n
      val rebuildSec = (System.nanoTime() - t3) / 1e9
      val left = spark.table(IndexStore.vecsTable(p)).count()
      val planes = IndexStore.vecConfig(spark, p).nPlanes
      // PQ sidecar: provision at the surviving corpus, then probe with
      // 10 planted copies (top-1 through the sidecar must hit each
      // original — asserted, so the timing can't be a broken search)
      val t4 = System.nanoTime()
      IndexStore.buildPq(spark, p)
      val pqBuildSec = (System.nanoTime() - t4) / 1e9
      val copies = graft.operators.Similarity.prepared(
        vecs(0, 1000, 0).filter(pmod(col("vec_id"), lit(100)) === 1),
        col("vec_id"), col("embedding"))
        .limit(10)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("vec"), col("norm"))
      val t5 = System.nanoTime()
      val hits = IndexStore.searchPq(spark, p, copies, k = 1, rerank = 32)
        .select(col("query_id"), col("cand_id")).collect()
        .count(r => r.getLong(1) == r.getLong(0) - 10000000L)
      val pqSearchSec = (System.nanoTime() - t5) / 1e9
      assert(hits == 10, s"PQ store search found $hits/10 planted originals")
      // IVF-PQ sidecar: provision the list layout (flat k-means at a
      // modest kLists — the coarse quantizer's own build cost scales
      // O(corpus·kLists·dim)), then the LIST-PRUNED probe: same 10
      // planted copies, same exactness assert, but the scan reads
      // ~1/kLists of the code bytes
      val t6 = System.nanoTime()
      IndexStore.buildIvf(spark, p, kLists = 64)
      val ivfBuildSec = (System.nanoTime() - t6) / 1e9
      val t7 = System.nanoTime()
      val ivfHits = IndexStore.searchIvfPq(spark, p, copies, k = 1,
          nProbe = 1, rerank = 32)
        .select(col("query_id"), col("cand_id")).collect()
        .count(r => r.getLong(1) == r.getLong(0) - 10000000L)
      val ivfSearchSec = (System.nanoTime() - t7) / 1e9
      assert(ivfHits == 10, s"IVF-PQ store search found $ivfHits/10 planted originals")
      // residual-IVFADC sidecar: its own coarse quantizer + residual
      // codebooks (both sample-trained) + the one-projection
      // assign/encode pass with stored crn — the build prices the whole
      // self-contained family; the probe is the same list-pruned shape
      // with the cosine-decomposition LUT reuse
      val t8 = System.nanoTime()
      IndexStore.buildIvfResidual(spark, p, kLists = 64)
      val ivfrBuildSec = (System.nanoTime() - t8) / 1e9
      val t9 = System.nanoTime()
      val ivfrHits = IndexStore.searchIvfResidual(spark, p, copies, k = 1,
          nProbe = 1, rerank = 32)
        .select(col("query_id"), col("cand_id")).collect()
        .count(r => r.getLong(1) == r.getLong(0) - 10000000L)
      val ivfrSearchSec = (System.nanoTime() - t9) / 1e9
      assert(ivfrHits == 10, s"IVFADC store search found $ivfrHits/10 planted originals")
      println(f"""{"metric":"vecs_maint_sec","corpus":$total,"vecs_left":$left,"removed":$nRm,"planes_after":$planes,"build_sec":$buildSec%.2f,"compact_sec":$compactSec%.2f,"remove_sec":$removeSec%.2f,"rebuild_sec":$rebuildSec%.2f,"pq_build_sec":$pqBuildSec%.2f,"pq_search10_sec":$pqSearchSec%.2f,"ivf_build_sec":$ivfBuildSec%.2f,"ivf_search10_sec":$ivfSearchSec%.2f,"ivfr_build_sec":$ivfrBuildSec%.2f,"ivfr_search10_sec":$ivfrSearchSec%.2f}""")
    } finally IndexStore.dropVecs(spark, p)
  }

  /** The vectors admission loop as a STRUCTURED STREAM
    * (`SPARK_GRAFT_STREAM=vecsstream`) — [[docsStreamIngest]]'s contract
    * over [[graft.streaming.StreamingIngest.vecsStream]]: same store and
    * batch shapes as [[vecsLoop]] minus the planted twins' near-dup
    * verification noise (fresh vectors + 1-in-100 twins), arriving as
    * parquet files drained one per micro-batch. */
  private def vecsStreamIngest(spark: SparkSession, n: Long, batches: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    def vecs(from: Long, nVecs: Long, salt: Int) = spark.range(from, from + nVecs)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => ((pmod(xxhash64(col("id"), d, lit(salt)), lit(1000)).cast("double")
            - 500.0) / 500.0).cast("float")).as("embedding"))
    val p = "vecs_stream_store"
    IndexStore.dropVecs(spark, p)
    val srcDir = java.nio.file.Files.createTempDirectory("vbench-src").toString
    val outDir = java.nio.file.Files.createTempDirectory("vbench-out").toString
    try {
      val tb = System.nanoTime()
      IndexStore.buildVecs(vecs(0, n, 0), col("vec_id"), col("embedding"), p)
      val buildSec = (System.nanoTime() - tb) / 1e9
      val batchN = math.max(n / 4, 1L)
      var total = 0L
      (0 until batches).foreach { b =>
        val fresh = vecs(0, batchN, b + 1)
          .select((col("vec_id") + n * (b + 1)).as("vec_id"), col("embedding"))
        val twins = vecs((b % 4) * batchN, batchN, 0)
          .filter(pmod(col("vec_id"), lit(100)) === 0)
          .select((col("vec_id") + n * (batches + 2 + b)).as("vec_id"),
            zip_with(col("embedding"), reverse(col("embedding")),
              (x, y) => (x + y * lit(0.01f)).cast("float")).as("embedding"))
        val batch = fresh.unionByName(twins)
        total += batch.count()
        batch.coalesce(1).write.mode("append").parquet(srcDir)
      }
      val t0 = System.nanoTime()
      graft.streaming.StreamingIngest.vecsStream(spark, srcDir, p, outDir,
        readerOptions = Map("maxFilesPerTrigger" -> "1")).awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val admitted = spark.table(IndexStore.vecsTable(p)).count() - n
      val rejected = spark.read.parquet(s"$outDir/rejects").count()
      println(f"""{"metric":"vecs_stream_vecs_per_sec","value":${total / sec}%.0f,"vecs":$total,"corpus":$n,"batches":$batches,"sec":$sec%.2f,"build_sec":$buildSec%.2f,"admitted":$admitted,"rejected":$rejected}""")
    } finally {
      IndexStore.dropVecs(spark, p)
      Seq(srcDir, outDir).foreach { d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
      }
    }
  }

  /** Full vecs-path admission-LOOP throughput (`SPARK_GRAFT_STREAM=
    * vecsloop`): [[graft.sources.IndexStore.buildVecs]] once (auto-
    * provisioned planes recorded in the catalog), then per batch
    * [[IngestApp.admitVecs]] + [[graft.sources.IndexStore.appendVecs]] —
    * fresh vectors plus 1-in-100 planted twins of corpus vectors, later
    * batches admitted against state grown by earlier ones. */
  private def vecsLoop(spark: SparkSession, n: Long, batches: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    def vecs(from: Long, nVecs: Long, salt: Int) = spark.range(from, from + nVecs)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => ((pmod(xxhash64(col("id"), d, lit(salt)), lit(1000)).cast("double")
            - 500.0) / 500.0)).as("embedding"))
    val p = "vecs_loop_store"
    IndexStore.dropVecs(spark, p)
    val tb = System.nanoTime()
    IndexStore.buildVecs(vecs(0, n, 0), col("vec_id"), col("embedding"), p)
    val buildSec = (System.nanoTime() - tb) / 1e9
    val batchN = math.max(n / 4, 1L)
    def batchOf(b: Int): org.apache.spark.sql.DataFrame = {
      val fresh = vecs(0, batchN, b + 1)
        .select((col("vec_id") + n * (b + 1)).as("vec_id"), col("embedding"))
      val twins = vecs((b % 4) * batchN, batchN, 0)
        .filter(pmod(col("vec_id"), lit(100)) === 0)
        .select((col("vec_id") + n * (batches + 2 + b)).as("vec_id"),
          zip_with(col("embedding"), reverse(col("embedding")),
            (x, y) => x + y * lit(0.01)).as("embedding"))
      fresh.unionByName(twins)
    }
    // warmup: admission only, nothing appended
    IngestApp.admitVecs(spark, p, batchOf(0).limit(1000))._2.count()
    var admitted = 0L
    var rejected = 0L
    var total = 0L
    var admitNs = 0L
    var appendNs = 0L
    val t0 = System.nanoTime()
    (0 until batches).foreach { b =>
      val batch = batchOf(b)
      total += batch.count()
      val ta = System.nanoTime()
      val (_, rej) = IngestApp.admitVecs(spark, p, batch)
      val rejM = rej.localCheckpoint(true)
      rejected += rejM.select(col("vec_id")).distinct().count()
      val admM = batch.join(rejM.select(col("vec_id")).distinct(),
        Seq("vec_id"), "left_anti").localCheckpoint(true)
      admitted += admM.count()
      admitNs += System.nanoTime() - ta
      val tp = System.nanoTime()
      IndexStore.appendVecs(admM, col("vec_id"), col("embedding"), p)
      appendNs += System.nanoTime() - tp
    }
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"vecs_loop_vecs_per_sec","value":${total / sec}%.0f,"vecs":$total,"corpus":$n,"batches":$batches,"sec":$sec%.2f,"admit_sec":${admitNs / 1e9}%.2f,"append_sec":${appendNs / 1e9}%.2f,"build_sec":$buildSec%.2f,"admitted":$admitted,"rejected":$rejected}""")
    IndexStore.dropVecs(spark, p)
  }

  /** Ingest-time embedding-dedup throughput (`SPARK_GRAFT_STREAM=emb`):
    * the corpus's banded LSH index is built and bucketed ONCE for `n`
    * vectors at the [[graft.operators.Similarity.lshAutoPlanes]] config,
    * then `batches` fresh batches of `n/4` new vectors each (1-in-100 a
    * planted twin of a corpus vector, ScaleProbe's gapped shape) run
    * [[graft.operators.Similarity.cosineIncrementalPairs]] against it —
    * the per-micro-batch cost of the streaming composition, with the
    * index side exchange-free. Prints new-vectors/sec. */
  private def embIngest(spark: SparkSession, n: Long, batches: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    // ScaleProbe's centered shape: uniform in [-1, 1) so random cosines
    // sit near 0 (all-positive values would put random pairs at ~0.75,
    // inside any useful near-dup threshold)
    def vecs(from: Long, count: Long, salt: Int) = spark.range(from, from + count)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => ((pmod(xxhash64(col("id"), d, lit(salt)), lit(1000)).cast("double")
            - 500.0) / 500.0)).as("vec"))
    val planes = Similarity.lshAutoPlanes(n)
    val tables = 4
    val corpus = Similarity.prepared(vecs(0, n, 0), col("vec_id"), col("vec"))
    graft.sources.Bucketing.writeBucketed(
      Similarity.lshIndex(corpus, planes, tables),
      "emb_ingest_idx", Seq("band", "bucket"), buckets = 32)
    val batchN = math.max(n / 4, 1L)
    // each batch: fresh random vectors, plus twins of every 100th corpus
    // vector in its id range so indexed_hits is non-trivial
    def batchOf(b: Int): org.apache.spark.sql.DataFrame = {
      val fresh = vecs(0, batchN, b + 1)
        .select((col("vec_id") + n * (b + 1)).as("vec_id"), col("vec"))
      // twin source range wraps so it stays inside the corpus [0, n) for
      // any batch count; twin ids live past every fresh-id region
      val twins = vecs((b % 4) * batchN, batchN, 0)
        .filter(pmod(col("vec_id"), lit(100)) === 0)
        .select((col("vec_id") + n * (batches + 2 + b)).as("vec_id"),
          zip_with(col("vec"), reverse(col("vec")),
            (x, y) => x + y * lit(0.01)).as("vec"))
      Similarity.prepared(fresh.unionAll(twins), col("vec_id"), col("vec"))
    }
    // warmup
    Similarity.cosineIncrementalPairs(spark.table("emb_ingest_idx"), corpus,
        batchOf(0).limit(1000), 0.8, planes, tables)
      .agg(count(lit(1))).head()
    val t0 = System.nanoTime()
    var hits = 0L
    (0 until batches).foreach { b =>
      hits += Similarity.cosineIncrementalPairs(spark.table("emb_ingest_idx"),
          corpus, batchOf(b), 0.8, planes, tables)
        .agg(count(lit(1)).as("pairs")).head().getLong(0)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val total = (batchN + batchN / 100) * batches
    println(f"""{"metric":"emb_ingest_vecs_per_sec","value":${total / sec}%.0f,"new_vecs":$total,"corpus":$n,"planes":$planes,"tables":$tables,"sec":$sec%.2f,"near_dup_hits":$hits}""")
    spark.sql("DROP TABLE IF EXISTS emb_ingest_idx")
  }

  /** Within-stream near-dup throughput (`SPARK_GRAFT_STREAM=neardup`):
    * `batches` micro-batches of `n/batches` vectors each flow through
    * [[graft.streaming.StreamingNearDup]]; every batch after the first
    * carries twins of 1-in-100 vectors from the PREVIOUS batch, so hits
    * come from cross-batch bucket state. Prints vectors/sec through the
    * stateful path (vector payload crosses the state exchange ×nTables —
    * the operator's documented price; compare the index-based `emb` mode,
    * which moves no corpus vectors). */
  private def nearDupStream(spark: SparkSession, n: Int, batches: Int): Unit = {
    import spark.implicits._
    import graft.streaming.StreamingNearDup
    implicit val sqlCtx = spark.sqlContext
    val perBatch = math.max(n / batches, 1)
    val planes = graft.operators.Similarity.lshAutoPlanes(n.toLong)
    val rnd = new scala.util.Random(7)
    var ts = 0L
    var prevSampled = Seq.empty[(Long, Seq[Double])]
    def nextBatch(b: Int): Seq[(Long, java.sql.Timestamp, Seq[Double])] = {
      val fresh = (0 until perBatch).map { i =>
        val id = b.toLong * perBatch + i
        ts += 1
        (id, new java.sql.Timestamp(ts), Seq.fill(64)(rnd.nextDouble() * 2 - 1))
      }
      val twins = prevSampled.map { case (id, v) =>
        ts += 1
        (id + n.toLong * 10, new java.sql.Timestamp(ts),
          v.zip(v.reverse).map { case (x, y) => x + y * 0.01 })
      }
      prevSampled = fresh.collect { case (id, _, v) if id % 100 == 0 => (id, v) }
      fresh ++ twins
    }
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    val q = StreamingNearDup.pairs(
        input.toDF().toDF("vec_id", "ts", "vec"), "ts", threshold = 0.8,
        nPlanes = planes, nTables = 4)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_bench").start()
    // warmup (also batch 0 seeds prevSampled)
    input.addData(nextBatch(0): _*)
    q.processAllAvailable()
    var total = 0L
    val t0 = System.nanoTime()
    (1 to batches).foreach { b =>
      val data = nextBatch(b)
      total += data.size
      input.addData(data: _*)
      q.processAllAvailable()
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val hits = spark.table("neardup_bench").count()
    q.stop()
    println(f"""{"metric":"stream_neardup_vecs_per_sec","value":${total / sec}%.0f,"vecs":$total,"batches":$batches,"planes":$planes,"tables":4,"sec":$sec%.2f,"near_dup_hits":$hits}""")
  }
}

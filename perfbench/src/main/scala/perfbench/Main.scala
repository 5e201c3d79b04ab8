package perfbench

import graft.ExtractJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The repository benchmark, one JVM per run:
  *
  *   perfbench.Main --workload <pdf_corpus|web_mixed|driver_queries>
  *                  --seed <n> --seconds <s> --trace <0|1>
  *                  --bench <benchmark dir> --work <work dir> --cores <n>
  *
  * Untraced runs print the end-to-end metrics; traced runs print the
  * per-layer metrics and write the span file. Either way every output is
  * checked and the last stdout line is one JSON object
  * `{"correct", "attempted", "failed", "metrics"}`. `--record-hashes <file>`
  * instead records the per-query result hashes the `driver_queries` check uses. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        bench: String, work: String, cores: Int, record: Option[String])

  final case class Metric(name: String, value: Double, unit: String)

  /** What one run reports: the check totals, the contract metrics, and the
    * fuller record written to the result file. */
  final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric],
                           summary: Seq[Metric], record: Seq[(String, String)])

  /** Workload sizes: sized so one iteration amortizes the per-job floor
    * while a run still fits its time budget on a 4-core host. */
  val PdfDocs = 3000
  val WebDocs = 20000
  val WebPool = 6000

  /** Untimed `ExtractJob.run` iterations before measuring (JIT warm-up). */
  val WarmupOps = 4

  /** The session confs of `graft.Bench.session`, at `local[cores]`. */
  def sessionConfs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // fine input splits smooth the straggler tail (graft.Bench's setting)
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.files.openCostInBytes" -> "1m",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC")

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    sessionConfs(cores).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Seconds since the JVM started: `setup_s` is this at the end of warm-up. */
  def sinceJvmStart(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }

  /** The highest of p90/p80/p75/p50 that has at least ten samples beyond
    * it (nearest-rank); the median when there are fewer than 20 samples. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    val n = s.size
    val p = Seq(90, 80, 75, 50).find(p => n - math.ceil(n * p / 100.0).toInt >= 10).getOrElse(50)
    (s(math.max(0, math.ceil(n * p / 100.0).toInt - 1)), p)
  }

  def deleteRecursively(f: java.io.File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRecursively)
    f.delete()
  }

  // -------------------------------------------------------------------
  // extraction workloads
  // -------------------------------------------------------------------

  /** A generated extraction corpus. */
  trait Corpus {
    def docs: Int
    def write(spark: SparkSession, seed: Long, dir: String): Gen.Stats
    def expected(spark: SparkSession, seed: Long): Map[String, String]
  }
  object PdfCorpus extends Corpus {
    val docs = PdfDocs
    def write(spark: SparkSession, seed: Long, dir: String) = Gen.PdfCorpus.write(spark, seed, docs, dir)
    def expected(spark: SparkSession, seed: Long) = Gen.PdfCorpus.expectedHashes(spark, seed, docs)
  }
  object WebMixed extends Corpus {
    val docs = WebDocs
    def write(spark: SparkSession, seed: Long, dir: String) = Gen.WebMixed.write(spark, seed, docs, WebPool, dir)
    def expected(spark: SparkSession, seed: Long) = Gen.WebMixed.expectedHashes(spark, seed, docs, WebPool)
  }

  /** One `ExtractJob.run` into a fresh output directory, then its check. */
  final case class Op(seconds: Double, mismatches: Int, kernelBusyS: Double, errorSpans: Long)

  final class Extraction(a: Args, corpus: Corpus, tracer: Tracer) {
    var spark: SparkSession = _
    var stats: Gen.Stats = _
    var inDir: String = _
    var expected: Map[String, String] = Map.empty
    private var opCount = 0

    def docs: DataFrame = spark.read.parquet(s"$inDir/docs")
    def media: DataFrame = spark.read.parquet(s"$inDir/media")

    /** Session start + input generation. */
    def setup(cores: Int): Unit = {
      spark = session(cores, a.work)
      inDir = s"${a.work}/input"
      stats = corpus.write(spark, a.seed, inDir)
    }

    val obs = new Observer
    var kernelStages = Seq.empty[Long]

    private def observed(body: => Unit): Unit = {
      val before = obs.engine.stageIds
      tracer.span("graft.ExtractJob.run")(obs.observe(spark)(body))
      kernelStages = obs.engine.busiestStage(obs.engine.stageIds -- before)
    }

    /** A JIT warm-up iteration: the job only, unchecked and untimed. */
    def warmOp(): Double = {
      opCount += 1
      val out = s"${a.work}/out$opCount"
      val t0 = System.nanoTime()
      ExtractJob.run(docs, media, out, s"r$opCount")(spark)
      deleteRecursively(new java.io.File(out))
      secs(t0)
    }

    def op(traced: Boolean = false): Op = {
      opCount += 1
      val out = s"${a.work}/out$opCount"
      val runId = s"r$opCount"
      if (traced) tracer.newTrace()
      // start each timed iteration from a collected heap, so garbage from
      // the previous iteration's check is not charged to this one
      System.gc()
      val t0 = System.nanoTime()
      if (traced) observed(ExtractJob.run(docs, media, out, runId)(spark))
      else ExtractJob.run(docs, media, out, runId)(spark)
      val sec = secs(t0)
      val spans = spark.read.parquet(s"$out/spans_out/run=$runId")
      val bad = Check.mismatches(expected, Check.docHashes(spans))
      val busy = spark.read.parquet(s"$out/lineage/run=$runId").agg(sum(col("wall_ms"))).head()
      val errors = spans.where(col("kind") === "error").count()
      deleteRecursively(new java.io.File(out))
      Op(sec, bad, if (busy.isNullAt(0)) 0.0 else busy.getLong(0) / 1e3, errors)
    }

    def run(): Outcome = {
      setup(a.cores)
      val warm = (0 until WarmupOps).map(_ => warmOp())
      val setupS = sinceJvmStart()
      expected = corpus.expected(spark, a.seed)
      var attempted = 0L
      var failed = 0L
      val rec = ArrayBuffer.empty[(String, String)]
      rec ++= Seq("stats" -> Json.obj(Seq("docs" -> stats.docs, "spans" -> stats.spans,
        "ref_spans" -> stats.refSpans, "distinct_refs" -> stats.distinctRefs, "media" -> stats.media,
        "media_bytes" -> stats.mediaBytes).map(kv => kv._1 -> kv._2.toString)),
        "setup_s" -> Json.num(setupS),
        "warmup_s" -> warm.map(Json.num).mkString("[", ",", "]"))
      val dps = (o: Op) => corpus.docs / o.seconds

      val ops = ArrayBuffer.empty[Op]
      val tracedOps = ArrayBuffer.empty[Op]
      val probe = if (a.trace) Layers.probe() else Double.NaN
      // the peak from here on covers the measured iterations, not set-up
      Layers.resetPeakRss()
      val t0 = System.nanoTime()
      var pair = 0
      while (ops.size < 3 || secs(t0) < a.seconds) {
        if (!a.trace) ops += op()
        else if (pair % 2 == 0) { ops += op(); tracedOps += op(traced = true) }
        else { tracedOps += op(traced = true); ops += op() }
        pair += 1
      }
      val all = ops ++ tracedOps
      attempted += all.size.toLong * corpus.docs
      failed += all.map(_.mismatches.toLong).sum
      rec += "op_s" -> ops.map(o => Json.num(o.seconds)).mkString("[", ",", "]")
      val itemsPerS = median(ops.map(dps).toSeq)
      val opP50 = median(ops.map(_.seconds).toSeq)
      val summary = Seq(
        Metric("docs_per_s", itemsPerS, "docs/s"),
        Metric("failed_frac", failed.toDouble / attempted, "ratio"))

      if (!a.trace) {
        return Outcome(attempted, failed, Seq(
          Metric("items_per_s", itemsPerS, "1/s"),
          Metric("op_p50_s", opP50, "s"),
          Metric("setup_s", setupS, "s"),
          Metric("peak_rss_mb", Layers.peakRssMb(), "MB")), summary, rec.toSeq)
      }

      // ---- traced: layer split of one iteration ----
      val n = tracedOps.size.toDouble
      val tracedSec = median(tracedOps.map(_.seconds).toSeq)
      tracer.newTrace()
      val (mediaS, assembleS) = tracer.span("layer_split") {
        implicit val sp: SparkSession = spark
        val d = docs
        val refs = d.select(explode(col("spans")).as("span")).filter(col("span.kind") =!= "text")
          .select(col("span.media_ref").as("media_ref")).distinct()
        val ex = ExtractJob.extractMedia(media, refs, spark.sessionState.conf.numShufflePartitions)
          .persist(StorageLevel.DISK_ONLY)
        var t = System.nanoTime()
        tracer.span("graft.ExtractJob.extractMedia")(ex.write.format("noop").mode("overwrite").save())
        val m = secs(t)
        t = System.nanoTime()
        tracer.span("graft.ExtractJob.assembleSpans")(ExtractJob.assembleSpans(d, ex.toDF())
          .sortWithinPartitions("doc_id", "order").write.format("noop").mode("overwrite").save())
        val as = secs(t)
        ex.unpersist()
        (m, as)
      }

      // ---- kernel-only rate and single-thread kernel phases on the same media ----
      val needed = spark.read.parquet(s"$inDir/docs").select(explode(col("spans.media_ref")).as("media_ref"))
        .where(col("media_ref") =!= "").distinct()
      val bytes: Array[Array[Byte]] = media.join(needed, Seq("media_ref")).orderBy("media_ref")
        .select("bytes").collect().map(_.getAs[Array[Byte]](0))
      val kernelNt = tracer.span("kernel_only")(Layers.kernelRate(bytes, a.cores))
      val sparkMediaPerS = bytes.length / median(ops.map(_.seconds).toSeq)
      val rnd = new scala.util.Random(a.seed)
      val pdfs = rnd.shuffle(bytes.toSeq.filter(b => b.length > 5 && new String(b, 0, 5, "ISO-8859-1") == "%PDF-")).take(200)
      val htmls = rnd.shuffle(bytes.toSeq.filter(graft.html.Html.looksHtml)).take(300)
      val pdf = tracer.span("graft.pdf")(Layers.pdfPhases(pdfs))
      val html = tracer.span("graft.html")(Layers.htmlPhases(htmls))
      failed += pdf.mismatches + html.mismatches
      attempted += pdfs.size + htmls.size

      // ---- scaling: the same job at local[1] ----
      spark.stop()
      spark = session(1, a.work)
      tracer.newTrace()
      val one = op()
      attempted += corpus.docs
      failed += one.mismatches
      val scaling = itemsPerS / (a.cores * dps(one))

      val tracedItems = median(tracedOps.map(dps).toSeq)
      val last = tracedOps.last
      val skewSorted = kernelStages.sorted
      val taskP50 = median(skewSorted.map(_.toDouble))
      val layer = extractMetrics(Seq(mediaS, assembleS, math.max(0.0, tracedSec - mediaS - assembleS),
        median(tracedOps.map(_.kernelBusyS).toSeq),
        median(tracedOps.map(o => 1 - o.kernelBusyS / (o.seconds * a.cores)).toSeq),
        kernelNt, sparkMediaPerS, stats.distinctRefs.toDouble / stats.refSpans, last.errorSpans.toDouble,
        taskP50, skewSorted.lastOption.getOrElse(0L).toDouble,
        if (taskP50 > 0) skewSorted.last / taskP50 else 0.0, scaling)) ++
        kernelMetrics(pdf, html) ++ engineMetrics(obs.engine, n) ++ observerMetrics(obs, probe, n) :+
        Metric("trace.items_per_s_delta", tracedItems - itemsPerS, "1/s")
      rec ++= Seq("traced_op_s" -> tracedOps.map(o => Json.num(o.seconds)).mkString("[", ",", "]"),
        "local1_op_s" -> Json.num(one.seconds),
        "kernel_stage_task_ms" -> kernelStages.mkString("[", ",", "]"))
      Outcome(attempted, failed, layer, summary :+ Metric("scaling_eff", scaling, "ratio"), rec.toSeq)
    }
  }

  /** `graft.ExtractJob` layer metrics, in this order. */
  val ExtractUnits: Seq[(String, String)] = Seq(
    "extract.media_s" -> "s", "extract.assemble_s" -> "s", "extract.write_commit_s" -> "s",
    "extract.kernel_busy_s" -> "s", "extract.spark_tax" -> "ratio", "extract.kernel_media_per_s_nt" -> "1/s",
    "extract.spark_media_per_s" -> "1/s", "extract.dedup_ratio" -> "ratio", "extract.error_spans" -> "count",
    "extract.task_p50_ms" -> "ms", "extract.task_max_ms" -> "ms", "extract.task_skew" -> "ratio",
    "extract.scaling_eff" -> "ratio")

  def extractMetrics(values: Seq[Double]): Seq[Metric] =
    ExtractUnits.zip(values).map { case ((n, u), v) => Metric(n, v, u) }

  def kernelMetrics(pdf: Layers.PdfPhases, html: Layers.HtmlPhases): Seq[Metric] = Seq(
    Metric("pdf.media_per_s_1t", pdf.perSec, "1/s"),
    Metric("pdf.frombytes_us", pdf.fromBytesUs, "us"),
    Metric("pdf.xref_us", pdf.xrefUs, "us"),
    Metric("pdf.storage_us", pdf.storageUs, "us"),
    Metric("pdf.pagetree_us", pdf.pageTreeUs, "us"),
    Metric("pdf.content_us", pdf.contentUs, "us"),
    Metric("pdf.utf8_us", pdf.utf8Us, "us"),
    Metric("pdf.alloc_kb_per_media", pdf.allocKb, "KB"),
    Metric("html.pages_per_s_1t", html.perSec, "1/s"),
    Metric("html.sniff_us", html.sniffUs, "us"),
    Metric("html.decode_us", html.decodeUs, "us"),
    Metric("html.parse_us", html.parseUs, "us"),
    Metric("html.keep_us", html.keepUs, "us"),
    Metric("html.alloc_kb_per_page", html.allocKb, "KB"))

  /** Spark-engine counters per iteration (one job run or one query pass). */
  def engineMetrics(e: EngineListener, n: Double): Seq[Metric] = Seq(
    Metric("spark.jobs", e.jobs / n, "count"),
    Metric("spark.stages", e.stages / n, "count"),
    Metric("spark.tasks", e.tasks / n, "count"),
    Metric("spark.shuffle_write_mb", e.shuffleWrite / 1048576.0 / n, "MB"),
    Metric("spark.shuffle_read_mb", e.shuffleRead / 1048576.0 / n, "MB"),
    Metric("spark.input_mb", e.input / 1048576.0 / n, "MB"),
    Metric("spark.output_mb", e.output / 1048576.0 / n, "MB"),
    Metric("spark.spill_mb", e.spill / 1048576.0 / n, "MB"),
    Metric("spark.executor_run_s", e.runMs / 1e3 / n, "s"),
    Metric("spark.executor_cpu_s", e.cpuNs / 1e9 / n, "s"),
    Metric("spark.deser_s", e.deserMs / 1e3 / n, "s"),
    Metric("spark.gc_s", e.gcMs / 1e3 / n, "s"),
    Metric("spark.task_wait_s", e.waitMs / 1e3 / n, "s"))

  /** Query-layer phases per operation (one ExtractJob.run or one query),
    * JVM counters per operation, and the host probe. */
  def observerMetrics(o: Observer, probe: Double, n: Double): Seq[Metric] = Seq(
    Metric("query.analysis_ms", o.phases.analysisMs / n, "ms"),
    Metric("query.optimizer_ms", o.phases.optimizerMs / n, "ms"),
    Metric("query.planning_ms", o.phases.planningMs / n, "ms"),
    Metric("query.exec_ms", o.phases.execNs / 1e6 / n, "ms"),
    Metric("query.codegen_ms", o.codegenNs / 1e6 / n, "ms"),
    Metric("query.jobs_per_query", o.engine.jobs / n, "count"),
    Metric("jvm.gc_s", o.gcS / n, "s"),
    Metric("jvm.alloc_mb", o.allocBytes / 1048576.0 / n, "MB"),
    Metric("host.probe_media_per_s", probe, "1/s"))

  // -------------------------------------------------------------------
  // driver_queries
  // -------------------------------------------------------------------

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  def driverQueries(a: Args, tracer: Tracer): Outcome = {
    val dataDir = s"${a.bench}/data/sf0.001"
    val expected = Queries.load(s"${a.bench}/query_hashes.tsv")
    val spark = session(a.cores, a.work)
    Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())
    val order = Queries.order
    // JIT warm-up on every tenth query (untimed, checked); the measured
    // pass then runs all of them
    val warm = order.indices.filter(_ % 10 == 0).map(i => Queries.runOne(spark, dataDir, order(i)))
    val setupS = sinceJvmStart()
    val probe = if (a.trace) Layers.probe() else Double.NaN
    Layers.resetPeakRss()
    val obs = new Observer
    def traced(name: String): Queries.Result = {
      tracer.newTrace()
      tracer.span(s"query:$name")(obs.observe(spark)(Queries.runOne(spark, dataDir, name)))
    }
    val plain = ArrayBuffer.empty[Queries.Result]
    val withTrace = ArrayBuffer.empty[Queries.Result]
    order.zipWithIndex.foreach { case (q, i) =>
      if (!a.trace) plain += Queries.runOne(spark, dataDir, q)
      else if (i % 2 == 0) { plain += Queries.runOne(spark, dataDir, q); withTrace += traced(q) }
      else { withTrace += traced(q); plain += Queries.runOne(spark, dataDir, q) }
    }
    val results = plain ++ withTrace ++ warm
    val failed = results.count(r => !r.ok(expected)).toLong
    val secsList = plain.map(_.seconds).toSeq
    val total = secsList.sum
    val (p90, pct) = tail(secsList)
    val jobs = obs.engine.jobsByGroup
    val rec = Seq(
      "setup_s" -> Json.num(setupS),
      "tail_percentile" -> pct.toString,
      "queries" -> plain.map { r =>
        val t = withTrace.find(_.name == r.name)
        Json.obj(Seq("name" -> Json.str(r.name), "seconds" -> Json.num(r.seconds),
          "traced_seconds" -> t.map(x => Json.num(x.seconds)).getOrElse("null"),
          "jobs" -> jobs.get(r.name).map(_.toString).getOrElse("null"),
          "rows" -> r.rows.toString, "ok" -> r.ok(expected).toString,
          "error" -> Json.str(r.error)))
      }.mkString("[\n", ",\n", "]"))
    val summary = Seq(
      Metric("queries_total_s", total, "s"),
      Metric("query_p50_s", median(secsList), "s"),
      Metric(s"query_p${pct}_s", p90, "s"),
      Metric("failed_frac", failed.toDouble / results.size, "ratio"))
    if (!a.trace) {
      return Outcome(results.size, failed, Seq(
        Metric("items_per_s", order.size / total, "1/s"),
        Metric("op_p50_s", median(secsList), "s"),
        Metric("setup_s", setupS, "s"),
        Metric("peak_rss_mb", Layers.peakRssMb(), "MB")), summary, rec)
    }
    // the kernels over the media the queries extract: the engine's fixtures
    val pdfFx = graft.testkit.PdfBuilder.all.map(_.bytes).filter(b =>
      try { graft.pdf.Pdf.pdf2txt(b); true } catch { case NonFatal(_) => false })
    val htmlFx = graft.testkit.HtmlBuilder.all.map(_.bytes).filter(graft.html.Html.looksHtml)
    val pdf = tracer.span("graft.pdf")(Layers.pdfPhases(pdfFx))
    val html = tracer.span("graft.html")(Layers.htmlPhases(htmlFx))
    val n = withTrace.size.toDouble
    val tracedTotal = withTrace.map(_.seconds).sum
    val layer = extractMetrics(ExtractUnits.map(_ => 0.0)) ++ kernelMetrics(pdf, html) ++
      engineMetrics(obs.engine, 1.0) ++ observerMetrics(obs, probe, n) :+
      Metric("trace.items_per_s_delta", order.size / tracedTotal - order.size / total, "1/s")
    spark.stop()
    Outcome(results.size + pdfFx.size + htmlFx.size, failed + pdf.mismatches + html.mismatches,
      layer, summary, rec)
  }

  /** Records name → (rows, hash) for every query, from two passes that
    * must agree. */
  def recordHashes(a: Args, path: String): Unit = {
    val dataDir = s"${a.bench}/data/sf0.001"
    val spark = session(a.cores, a.work)
    val names = Queries.all.keys.toSeq.sorted
    val p1 = names.map(Queries.runOne(spark, dataDir, _))
    val p2 = names.map(Queries.runOne(spark, dataDir, _))
    val lines = p1.zip(p2).flatMap { case (x, y) =>
      if (x.error.nonEmpty || y.error.nonEmpty || x.hash != y.hash) {
        System.err.println(s"[perfbench] ${x.name}: unstable or failing (${x.error}${y.error})")
        None
      } else Some(s"${x.name}\t${x.rows}\t${x.hash}")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"recorded ${lines.size} of ${names.size} query hashes")
    spark.stop()
  }

  // -------------------------------------------------------------------

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("workload", "pdf_corpus"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1",
      m.getOrElse("bench", "perfbench"), m.getOrElse("work", "perfbench/work"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      m.get("record-hashes"))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    new java.io.File(a.work).mkdirs()
    a.record.foreach { p => recordHashes(a, p); System.exit(0) }
    val tracer = new Tracer(a.trace)
    val outcome = a.workload match {
      case "pdf_corpus" => new Extraction(a, PdfCorpus, tracer).run()
      case "web_mixed" => new Extraction(a, WebMixed, tracer).run()
      case "driver_queries" => driverQueries(a, tracer)
      case w => System.err.println(s"unknown workload $w"); System.exit(2); null
    }
    SparkSession.getActiveSession.foreach(_.stop())
    val outDir = new java.io.File(s"${a.bench}/out")
    outDir.mkdirs()
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    def metricsJson(ms: Seq[Metric]) =
      Json.obj(ms.map(m => m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
    val jvmFlags = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    }
    val result = Json.obj(Seq("workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "master" -> Json.str(s"local[${a.cores}]"),
      "session_confs" -> Json.obj(sessionConfs(a.cores).map(kv => kv._1 -> Json.str(kv._2))),
      "jvm_flags" -> jvmFlags.map(Json.str).mkString("[", ",", "]"),
      "seconds" -> a.seconds.toString, "cores" -> a.cores.toString, "trace" -> a.trace.toString,
      "attempted" -> outcome.attempted.toString, "failed" -> outcome.failed.toString,
      "metrics" -> metricsJson(outcome.metrics), "summary" -> metricsJson(outcome.summary)) ++
      outcome.record)
    java.nio.file.Files.write(new java.io.File(outDir, s"$tag.json").toPath, result.getBytes("UTF-8"))
    if (a.trace)
      java.nio.file.Files.write(new java.io.File(outDir, s"$tag-spans.json").toPath, tracer.json.getBytes("UTF-8"))
    (outcome.summary ++ outcome.metrics).foreach(m => println(f"metric ${m.name}%-32s ${Json.num(m.value)}%s ${m.unit}"))
    println(Json.obj(Seq("correct" -> (outcome.failed == 0).toString, "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString, "metrics" -> metricsJson(outcome.metrics))))
    System.out.flush()
    System.exit(0)
  }
}

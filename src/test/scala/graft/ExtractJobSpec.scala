package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.testkit.Corpus

/** End-to-end Spark pipeline tests: span-sequence equality vs the
  * by-construction oracle, error tolerance, and snapshot resume. */
class ExtractJobSpec extends AnyFunSuite with SparkSpec {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("extract-spec").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("span-sequence equality on a 64-doc interleaved corpus") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 64, heavyEvery = 16)
    val docs = s.createDataset(built.docs).toDF()
    val media = s.createDataset(built.media).toDF()
    val out = tmpDir()
    val got = ExtractJob.run(docs, media, out, runId = "t1")
      .as[Model.OutSpan].collect().map(o => (o.doc_id, o.order, o.kind, o.text, o.media_ref)).sorted
    val want = built.expected.map(o => (o.doc_id, o.order, o.kind, o.text, o.media_ref)).sorted.toArray
    assert(got.length == want.length, s"row count ${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"span mismatch: got $g want $w") }
    // lineage rows exist and account for every media blob exactly once
    val lin = s.read.parquet(s"$out/lineage")
    val totalIn = lin.agg(org.apache.spark.sql.functions.sum("media_in")).head.getLong(0)
    assert(totalIn == built.media.size, s"lineage media_in $totalIn vs ${built.media.size}")
  }

  test("resume from committed snapshot: no dupes, no gaps") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 24, heavyEvery = 1000)
    val (firstHalf, secondHalf) = built.docs.splitAt(12)
    val media = s.createDataset(built.media).toDF()
    val out = tmpDir()
    // run 1: only half the docs → committed snapshot
    ExtractJob.run(s.createDataset(firstHalf).toDF(), media, out, runId = "r1")
    // run 2: the FULL input — must skip the committed doc_ids
    val after = ExtractJob.run(s.createDataset(built.docs).toDF(), media, out, runId = "r2")
    val got = after.as[Model.OutSpan].collect().map(o => (o.doc_id, o.order, o.kind, o.text, o.media_ref)).sorted
    val want = built.expected.map(o => (o.doc_id, o.order, o.kind, o.text, o.media_ref)).sorted.toArray
    assert(got.length == want.length, s"resume rows ${got.length} vs ${want.length} (dupes or gaps)")
    got.zip(want).foreach { case (g, w) => assert(g == w) }
    assert(secondHalf.nonEmpty)
  }

  test("time travel: readAsOf reconstructs every committed snapshot exactly") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 18, heavyEvery = 1000)
    val (firstHalf, _) = built.docs.splitAt(9)
    val media = s.createDataset(built.media).toDF()
    val out = tmpDir()
    val afterR1 = ExtractJob.run(s.createDataset(firstHalf).toDF(), media, out, runId = "r1")
      .as[Model.OutSpan].collect().map(o => (o.doc_id, o.order, o.text)).sorted
    ExtractJob.run(s.createDataset(built.docs).toDF(), media, out, runId = "r2")
    assert(ExtractJob.committedSnapshots(out) == Seq("r1", "r2"))
    // AS OF r1 = exactly what run 1 returned, even after r2 committed
    val asOf1 = ExtractJob.readAsOf(out, "r1")
      .as[Model.OutSpan].collect().map(o => (o.doc_id, o.order, o.text)).sorted
    assert(asOf1.toSeq == afterR1.toSeq)
    // AS OF r2 = the full corpus
    val asOf2 = ExtractJob.readAsOf(out, "r2")
      .as[Model.OutSpan].collect().map(o => (o.doc_id, o.order, o.text)).sorted
    val want = built.expected.map(o => (o.doc_id, o.order, o.text)).sorted
    assert(asOf2.toSeq == want)
    // unknown run is an explicit error, not an empty frame
    intercept[IllegalArgumentException] { ExtractJob.readAsOf(out, "nope") }
  }

  test("splitCorpus: disjoint, exhaustive, repartition- and snapshot-stable") {
    val s = spark; import s.implicits._
    val docs = Seq.tabulate(2000)(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
    val bounds = Seq("a0000000" -> "train", "d0000000" -> "val")
    val split = operators.TrainingOps.splitCorpus(docs, "doc_id", bounds, "test")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // exhaustive: every row got exactly one split
    assert(split.size == 2000)
    // fractions near the hex ranges (train 62.5%, val 18.75%, test 18.75%)
    val n = split.values.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(math.abs(n("train") - 1250) < 100, n.toString)
    assert(math.abs(n("val") - 375) < 75, n.toString)
    // repartition-stable
    val re = operators.TrainingOps.splitCorpus(docs.repartition(13), "doc_id", bounds, "test")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(re == split)
    // snapshot-stable: a doc keeps its split inside a different corpus
    val subset = operators.TrainingOps.splitCorpus(
        docs.where($"doc_id" < 500), "doc_id", bounds, "test")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    subset.foreach { case (id, sp2) => assert(sp2 == split(id)) }
  }

  test("vacuumRuns deletes only uncommitted (crashed) run dirs") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 8, heavyEvery = 1000)
    val media = s.createDataset(built.media).toDF()
    val out = tmpDir()
    ExtractJob.run(s.createDataset(built.docs).toDF(), media, out, runId = "good")
    // simulate a crash: partial files in run dirs never added to _committed
    val orphan = new java.io.File(s"$out/spans_out/run=crashed")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("part-0.parquet"), "partial")
    new java.io.File(s"$out/lineage/run=crashed").mkdirs()
    // default min-age guard: a fresh (possibly in-flight) dir is NOT eligible
    assert(ExtractJob.vacuumRuns(out).isEmpty && orphan.exists())
    val removed = ExtractJob.vacuumRuns(out, minAgeMs = 0)
    assert(removed == Seq("crashed"), s"removed $removed")
    assert(!orphan.exists())
    assert(new java.io.File(s"$out/spans_out/run=good").exists()) // committed untouched
    // committed output still reads back complete
    assert(s.read.parquet(s"$out/spans_out/run=good").count() == built.expected.size)
  }

  test("hybrid skew routing: heavy path shuffles, small path doesn't, same results") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 16, heavyEvery = 4)
    val media = s.createDataset(built.media).toDF()
    val refs = media.select("media_ref").distinct()
    def key(e: Model.Extracted) = (e.media_ref, e.ok, e.text)
    val small = ExtractJob.extractMedia(media, refs, 4) // all under 4 MB -> narrow
    val heavy = ExtractJob.extractMedia(media, refs, 4, heavyBucket = 0) // all routed via shuffle
    assert(!small.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning(size_bucket"))
    assert(heavy.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(small.collect().map(key).sorted.toSeq == heavy.collect().map(key).sorted.toSeq)
  }

  test("a text span's media_ref is neither extracted nor joined") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val (f1, f3) = (testkit.PdfBuilder.f01MinimalFlate, testkit.PdfBuilder.f03Filters)
    val docs = s.createDataset(Seq(Model.DocRow("d1", Seq(
      Model.InSpan("text", "caption", f1.name, 0), Model.InSpan("pdf", "", f3.name, 1))))).toDF()
    val media = s.createDataset(Seq(Model.MediaRow(f1.name, f1.bytes), Model.MediaRow(f3.name, f3.bytes))).toDF()
    val extracted = ExtractJob.extractMedia(media, ExtractJob.neededRefs(docs), 4).collect()
    assert(extracted.map(_.media_ref).toSeq == Seq(f3.name))
    val want = Seq(("d1", 0, "text", "caption", ""), ("d1", 1, "pdf_text", f3.expected, f3.name))
    def spans(df: org.apache.spark.sql.DataFrame) =
      df.as[Model.OutSpan].collect().map(o => (o.doc_id, o.order, o.kind, o.text, o.media_ref)).sortBy(_._2).toSeq
    assert(spans(ExtractJob.extract(docs, media, 4)) == want)
    val out = tmpDir()
    assert(spans(ExtractJob.run(docs, media, out, runId = "t4")) == want)
    assert(s.read.parquet(s"$out/metrics").head().getAs[Long]("media_total") == 1L)
  }

  test("lineage and metrics contract: pinned schemas, metrics = column sums of lineage") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.types._
    val built = Corpus.build(nDocs = 16, heavyEvery = 4)
    val out = tmpDir()
    val committed = ExtractJob.run(s.createDataset(built.docs).toDF(), s.createDataset(built.media).toDF(), out, runId = "c1")
    assert(committed.schema == s.read.parquet(s"$out/spans_out/run=c1").schema)
    def fields(f: (String, DataType)*) = StructType(f.map { case (n, t) => StructField(n, t, nullable = true) })
    val lineage = s.read.parquet(s"$out/lineage/run=c1")
    val metrics = s.read.parquet(s"$out/metrics/run=c1")
    assert(lineage.schema == fields("partition_id" -> IntegerType, "media_in" -> LongType,
      "media_ok" -> LongType, "media_failed" -> LongType, "bytes_in" -> LongType, "wall_ms" -> LongType,
      "run_id" -> StringType, "input_snapshot" -> StringType))
    assert(metrics.schema == fields("media_total" -> LongType, "media_ok" -> LongType,
      "bytes_total" -> LongType, "run_id" -> StringType))
    val lin = lineage.collect()
    assert(lin.nonEmpty && lin.forall(r => r.getAs[String]("run_id") == "c1" && r.getAs[String]("input_snapshot") == out))
    assert(lin.map(_.getAs[Long]("media_in")).sum == built.media.size)
    val m = metrics.collect()
    assert(m.length == 1)
    assert(m(0).getAs[Long]("media_total") == lin.map(_.getAs[Long]("media_in")).sum)
    assert(m(0).getAs[Long]("media_ok") == lin.map(_.getAs[Long]("media_ok")).sum)
    assert(m(0).getAs[Long]("bytes_total") == lin.map(_.getAs[Long]("bytes_in")).sum)
    assert(m(0).getAs[String]("run_id") == "c1")

    // a run with only text spans extracts nothing: no lineage rows, and one
    // metrics row with media_total = 0 and NULL sums
    val textOnly = s.createDataset(Seq(Model.DocRow("t", Seq(Model.InSpan("text", "only", "", 0))))).toDF()
    ExtractJob.run(textOnly, s.createDataset(built.media).toDF(), out, runId = "c2")
    assert(s.read.parquet(s"$out/lineage/run=c2").count() == 0)
    val empty = s.read.parquet(s"$out/metrics/run=c2").collect()
    assert(empty.length == 1)
    assert(empty(0).getAs[Long]("media_total") == 0L)
    assert(empty(0).isNullAt(empty(0).fieldIndex("media_ok")))
    assert(empty(0).isNullAt(empty(0).fieldIndex("bytes_total")))
    assert(empty(0).getAs[String]("run_id") == "c2")
  }

  test("a failed write leaves the manifest unchanged and no cached extraction behind") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 8, heavyEvery = 1000)
    val media = s.createDataset(built.media).toDF()
    val out = tmpDir()
    ExtractJob.run(s.createDataset(built.docs.take(4)).toDF(), media, out, runId = "ok")
    val manifest = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$out/_committed"))
    assert(s.sparkContext.getPersistentRDDs.isEmpty)
    // a regular file where the lineage directory belongs: the lineage write fails
    def deleteTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
      f.delete()
    }
    deleteTree(new java.io.File(s"$out/lineage"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/lineage"), "not a directory")
    intercept[Exception] {
      ExtractJob.run(s.createDataset(built.docs).toDF(), media, out, runId = "broken")
    }
    assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$out/_committed")).toSeq == manifest.toSeq)
    assert(ExtractJob.committedSnapshots(out) == Seq("ok"))
    assert(s.sparkContext.getPersistentRDDs.isEmpty, "the failed run's cached extraction leaked")
  }

  test("poison documents become error spans, job survives") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val docs = s.createDataset(Seq(
      Model.DocRow("d1", Seq(Model.InSpan("pdf", "", "bad", 0), Model.InSpan("text", "ok", "", 1))))).toDF()
    val media = s.createDataset(Seq(
      Model.MediaRow("bad", "complete garbage".getBytes, 4))).toDF()
    val out = tmpDir()
    val got = ExtractJob.run(docs, media, out, runId = "t3").as[Model.OutSpan].collect().sortBy(_.order)
    assert(got.length == 2)
    assert(got(0).kind == "error" && got(0).media_ref == "bad")
    assert(got(1).kind == "text" && got(1).text == "ok")
  }
}

package perfbench

import graft.ExtractJob
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("perfbench-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[String]

  override def afterAll(): Unit = {
    spark.stop()
    dirs.foreach(d => Main.deleteRecursively(new java.io.File(d)))
  }

  private def tmpDir(): String = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val d = java.nio.file.Files.createTempDirectory("perfbench-test").toString
    dirs += d
    d
  }

  test("the same seed gives a byte-identical corpus; another seed does not") {
    def pdfCorpus(seed: Long) = (0L until 6L).map(Gen.PdfCorpus.media(seed, _).bytes.toSeq)
    def webCorpus(seed: Long) = (0L until 40L).map(Gen.WebMixed.media(seed, _).bytes.toSeq)
    assert(pdfCorpus(7) == pdfCorpus(7))
    assert(webCorpus(7) == webCorpus(7))
    assert(pdfCorpus(7) != pdfCorpus(8))
    assert(webCorpus(7) != webCorpus(8))
    assert((0L until 50L).map(Gen.WebMixed.doc(7, 100, _)) == (0L until 50L).map(Gen.WebMixed.doc(7, 100, _)))

    val (a, b) = (tmpDir(), tmpDir())
    Gen.PdfCorpus.write(spark, 3, 20, a)
    Gen.PdfCorpus.write(spark, 3, 20, b)
    def rows(dir: String) = spark.read.parquet(s"$dir/media").orderBy("media_ref").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2))).toSeq
    assert(rows(a) == rows(b))
  }

  test("generated payloads carry the span the kernels produce") {
    (0L until 300L).foreach { k =>
      val p = Gen.WebMixed.media(5, k)
      val got =
        try { val (kind, text) = ExtractJob.extract1(p.bytes); (kind + "_text", text) }
        catch { case scala.util.control.NonFatal(_) => ("error", "") }
      assert(got == ((p.kind, p.text)), s"pool item $k (${p.kind})")
      assert(Gen.WebMixed.payload(5, k, withBytes = false).text == p.text)
    }
    Seq(0L, 1L, 17L).foreach { m =>
      val p = Gen.PdfCorpus.media(5, m)
      assert(graft.pdf.Pdf.pdf2txt(p.bytes) == p.text)
      assert(Gen.textPdfExpected(Gen.PdfCorpus.tag(5, m), Gen.PdfCorpus.pages(5, m), 30) == p.text)
    }
  }

  test("a committed run matches its expected spans; a corrupted expected span counts as failed") {
    val dir = tmpDir()
    val stats = Gen.WebMixed.write(spark, 9, 60, 30, dir)
    assert(stats.docs == 60 && stats.media == 30)
    val out = s"$dir/out"
    ExtractJob.run(spark.read.parquet(s"$dir/docs"), spark.read.parquet(s"$dir/media"), out, "r1")(spark)
    val actual = Check.docHashes(spark.read.parquet(s"$out/spans_out/run=r1"))
    val expected = Gen.WebMixed.expectedHashes(spark, 9, 60, 30)
    assert(Check.mismatches(expected, actual) == 0)

    import spark.implicits._
    val spans = (0L until 60L).flatMap(Gen.WebMixed.expected(9, 30, _))
    val corrupted = spans.updated(4, spans(4).copy(text = spans(4).text + "x"))
    assert(Check.mismatches(Check.docHashes(corrupted.toDF()), actual) == 1)
    assert(Check.mismatches(expected - spans.head.doc_id, actual) == 1)
  }

  test("a corrupted query hash counts as failed") {
    val rows = Array(Row(1L, "a", 0.5), Row(2L, null, Double.NaN))
    val r = Queries.Result("q", 0.1, rows.length.toLong, Queries.hash(rows), "")
    assert(Queries.hash(rows.reverse) == r.hash)
    assert(r.ok(Map("q" -> ((2L, r.hash)))))
    assert(!r.ok(Map("q" -> ((2L, r.hash.reverse)))))
    assert(!r.ok(Map("q" -> ((3L, r.hash)))))
    assert(!r.ok(Map.empty))
    assert(!r.copy(error = "boom").ok(Map("q" -> ((2L, r.hash)))))
    assert(Queries.hash(Array(Row(-0.0))) != Queries.hash(Array(Row(0.0))))
  }

  test("the traced PDF composition equals Pdf.pdf2txt") {
    val sample = (0L until 8L).map(Gen.PdfCorpus.media(11, _).bytes) ++
      (0L until 200L).map(Gen.WebMixed.media(11, _)).filter(_.kind == "pdf_text").map(_.bytes) ++
      graft.testkit.PdfBuilder.all.map(_.bytes).filter(b =>
        try { graft.pdf.Pdf.pdf2txt(b); true } catch { case scala.util.control.NonFatal(_) => false })
    sample.foreach(b => assert(Layers.pdfComposed(b)._1 == graft.pdf.Pdf.pdf2txt(b)))
    val phases = Layers.pdfPhases(sample)
    assert(phases.mismatches == 0 && phases.media == sample.size && phases.perSec > 0)
    val html = Layers.htmlPhases(graft.testkit.HtmlBuilder.all.map(_.bytes).filter(graft.html.Html.looksHtml))
    assert(html.mismatches == 0 && html.pages > 0)
  }

  test("span self time is duration minus the union of child spans") {
    val t = new Tracer(enabled = true)
    t.newTrace()
    t.span("outer") {
      t.span("a")(Thread.sleep(20))
      t.span("b")(Thread.sleep(20))
      Thread.sleep(20)
    }
    val spans = t.recorded
    val self = t.selfNs
    val outer = spans.find(_.name == "outer").get
    assert(spans.filter(_.name != "outer").forall(_.parent == outer.id))
    assert(spans.forall(_.trace == 1))
    val kids = spans.filter(_.parent == outer.id).map(s => s.endNs - s.startNs).sum
    assert(self(outer.id) == outer.endNs - outer.startNs - kids)
    assert(new Tracer(enabled = false).span("x")(42) == 42)
  }
}

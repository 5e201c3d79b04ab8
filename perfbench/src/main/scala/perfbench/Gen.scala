package perfbench

import graft.Model._
import graft.testkit.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators for the extraction workloads. Every payload and
  * every expected output span is a pure function of (seed, id), so the same
  * seed gives byte-identical inputs, executors can build them in parallel,
  * and the expected spans are known by construction. `graft.testkit` is used
  * only as a library (`Corpus.textPdf`, the engine's own PDF writer). */
object Gen {

  /** One generated media payload with the span the pipeline must emit for it. */
  final case class Payload(bytes: Array[Byte], kind: String, text: String)

  /** Sizes of one generated workload (recorded in the result file). */
  final case class Stats(docs: Long, spans: Long, refSpans: Long, distinctRefs: Long,
                         media: Long, mediaBytes: Long)

  private def rnd(seed: Long, a: Long, b: Long = 0L): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + a * 1000003L + b)

  def sizeBucket(n: Int): Int = 32 - Integer.numberOfLeadingZeros(math.max(1, n - 1))

  /** Expected text of `Corpus.textPdf(tag, pages, lines)`, without building
    * the PDF (the builder's own `expected` string has exactly this shape). */
  def textPdfExpected(tag: String, pages: Int, lines: Int): String = {
    val sb = new java.lang.StringBuilder
    var p = 0
    while (p < pages) {
      var i = 0
      while (i < lines) { sb.append(tag).append(" p").append(p).append(" line").append(i).append('\n'); i += 1 }
      p += 1
    }
    sb.toString
  }

  // ------------------------------------------------------------------
  // pdf_corpus: the Corpus.writeBenchCorpus formula, seeded
  // ------------------------------------------------------------------

  /** Per doc: 2 text spans and 2 Flate text PDFs of 10-30 pages (30 lines
    * each); the first PDF of 1 doc in `heavyEvery` is a 96-page monster. */
  object PdfCorpus {
    val pdfsPerDoc = 2
    val heavyEvery = 100

    def pages(seed: Long, mediaId: Long): Int = {
      val doc = mediaId / pdfsPerDoc
      if (doc % heavyEvery == 0 && mediaId % pdfsPerDoc == 0) 96
      else 10 + rnd(seed, mediaId).nextInt(21)
    }
    def ref(mediaId: Long): String = f"m$mediaId%08d"
    def tag(seed: Long, mediaId: Long): String = s"s${seed}m$mediaId"

    def media(seed: Long, mediaId: Long): Payload = {
      val (bytes, exp) = Corpus.textPdf(tag(seed, mediaId), pages(seed, mediaId), linesPerPage = 30)
      Payload(bytes, "pdf_text", exp)
    }

    def doc(seed: Long, i: Long): DocRow = DocRow(f"doc$i%08d", (0 until pdfsPerDoc).flatMap { j =>
      Seq(InSpan("text", s"inline $seed.$i.$j", "", j * 2), InSpan("pdf", "", ref(i * pdfsPerDoc + j), j * 2 + 1))
    })

    def expected(seed: Long, i: Long): Seq[OutSpan] = {
      val d = doc(seed, i)
      d.spans.zipWithIndex.map { case (s, order) =>
        if (s.kind == "text") OutSpan(d.doc_id, order, "text", s.text, "")
        else {
          val m = i * pdfsPerDoc + (order - 1) / 2
          OutSpan(d.doc_id, order, "pdf_text", textPdfExpected(tag(seed, m), pages(seed, m), 30), s.media_ref)
        }
      }
    }

    def write(spark: SparkSession, seed: Long, nDocs: Int, dir: String): Stats = {
      import spark.implicits._
      val nMedia = nDocs.toLong * pdfsPerDoc
      // writeBenchCorpus's layout: one media file per default-parallelism partition
      spark.range(nMedia).map { id =>
        val p = media(seed, id)
        MediaRow(ref(id), p.bytes, sizeBucket(p.bytes.length))
      }.write.mode("overwrite").parquet(s"$dir/media")
      spark.range(nDocs.toLong).map(i => doc(seed, i)).write.mode("overwrite").parquet(s"$dir/docs")
      val bytes = spark.read.parquet(s"$dir/media").agg(sum(length(col("bytes")))).head().getLong(0)
      Stats(nDocs, nDocs * 2L * pdfsPerDoc, nMedia, nMedia, nMedia, bytes)
    }

    def expectedHashes(spark: SparkSession, seed: Long, nDocs: Int): Map[String, String] = {
      import spark.implicits._
      Check.docHashes(spark.range(nDocs.toLong).flatMap(i => expected(seed, i)).toDF())
    }
  }

  // ------------------------------------------------------------------
  // web_mixed: small HTML pages, 1-page PDFs, damaged payloads; skewed reuse
  // ------------------------------------------------------------------

  private val Words: Array[String] = (
    "data pipeline spark partition shuffle kernel layout glyph stream filter " +
    "crawl frontier robots sitemap anchor domain corpus token shard merge " +
    "quality language model sample window session commit snapshot resume " +
    "lineage metric cluster executor worker stage task record column schema " +
    "parquet index query plan join filter project sort hash bloom sketch " +
    "vector embedding search rank score page document text block heading " +
    "paragraph article section footer header river mountain forest harbor " +
    "village market garden library museum theater bridge tower castle island " +
    "morning evening winter summer autumn spring weather journey letter story"
  ).split(' ')

  private def words(r: java.util.Random, n: Int): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) { if (i > 0) sb.append(' '); sb.append(Words(r.nextInt(Words.length))); i += 1 }
    sb.toString
  }

  /** A news-style page of roughly `targetBytes`. Kept by the classifier:
    * the h1/h2 headings (no links) and the prose paragraphs (12-40 words,
    * no links). Dropped: head/title/style/script, the nav menu, link-menu
    * rows (3-6 one-word links), 2-word labels, the aside and the footer.
    * The expected main-content text follows from those rules alone. */
  def htmlPage(r: java.util.Random, id: Long, targetBytes: Int): (String, String) = {
    val html = new java.lang.StringBuilder(targetBytes + 2048)
    val exp = new java.lang.StringBuilder
    def kept(tag: String, text: String): Unit = {
      html.append('<').append(tag).append('>').append(text).append("</").append(tag).append(">\n")
      exp.append(text).append('\n')
    }
    def menu(n: Int): String =
      (0 until n).map(k => s"""<a href="/p$id/$k">${Words(r.nextInt(Words.length))}</a>""").mkString(" ")
    html.append("<!DOCTYPE html>\n<html><head><title>").append(words(r, 4)).append("</title>")
      .append("""<meta charset="utf-8"><style>body{margin:0}p{line-height:1.4}</style>""")
      .append("<script>var cfg = {\"page\": ").append(id).append(", \"html\": \"<p>not content</p>\"};</script>")
      .append("</head>\n<body>\n<nav>").append(menu(5)).append("</nav>\n<article>\n")
    kept("h1", words(r, 2 + r.nextInt(5)))
    while (html.length < targetBytes) {
      r.nextInt(8) match {
        case 0 => kept("h2", words(r, 2 + r.nextInt(4)))
        case 1 => html.append("<div>").append(menu(3 + r.nextInt(4))).append("</div>\n")
        case 2 => html.append("<p>").append(words(r, 2)).append("</p>\n")
        case 3 =>
          html.append("<script>function f").append(html.length).append("(x){return x*")
            .append(r.nextInt(100)).append(";} /* ").append(words(r, 30)).append(" */</script>\n")
        case _ => kept("p", words(r, 12 + r.nextInt(29)))
      }
    }
    html.append("</article>\n<aside>").append(words(r, 12)).append("</aside>\n<footer>")
      .append(words(r, 6)).append(' ').append(menu(3)).append("</footer>\n</body></html>\n")
    (html.toString, exp.toString)
  }

  object WebMixed {
    val spansPerDoc = 3
    /** Share of media refs that go to the hot set, and the hot set's share of the pool. */
    val hotRefShare = 1.0 / 3
    val hotPoolShare = 0.02

    def ref(k: Long): String = f"w$k%08d"

    /** Payload family of pool item k: ~2% damaged, ~28% 1-page PDF, ~70% HTML. */
    private def family(seed: Long, k: Long): (Int, java.util.Random) = {
      val r = rnd(seed, k, 7L)
      (r.nextInt(100), r)
    }
    def inKind(seed: Long)(k: Long): String = if (family(seed, k)._1 < 30) "pdf" else "html"

    def media(seed: Long, k: Long): Payload = payload(seed, k, withBytes = true)

    /** The payload of pool item k; without bytes only the expected span is
      * built (the PDF writer is skipped, its expected text is a formula). */
    def payload(seed: Long, k: Long, withBytes: Boolean): Payload = {
      val (f, r) = family(seed, k)
      if (f < 2) {
        // damaged: neither markup nor a PDF; the PDF kernel's recovery path
        // must reject it, so the span becomes `error`
        val junk = new Array[Byte](1000 + r.nextInt(3000))
        r.nextBytes(junk)
        junk(0) = 'x'
        var i = 0
        while (i < junk.length) { if (junk(i) == '%') junk(i) = '#'; i += 1 }
        Payload(junk, "error", "")
      } else if (f < 30) {
        val tag = s"s${seed}w$k"
        val lines = 3 + r.nextInt(28)
        if (withBytes) {
          val (bytes, exp) = Corpus.textPdf(tag, 1, linesPerPage = lines)
          Payload(bytes, "pdf_text", exp)
        } else Payload(Array.emptyByteArray, "pdf_text", textPdfExpected(tag, 1, lines))
      } else {
        val target = 5000 + r.nextInt(35001)
        val (html, exp) = htmlPage(r, k, target)
        Payload(if (withBytes) html.getBytes("UTF-8") else Array.emptyByteArray, "html_text", exp)
      }
    }

    def refOf(seed: Long, pool: Long, i: Long, j: Int): Long = {
      val r = rnd(seed, i, 11L + j)
      val hot = math.max(1L, (pool * hotPoolShare).toLong)
      if (r.nextDouble() < hotRefShare) (r.nextLong() & Long.MaxValue) % hot
      else hot + (r.nextLong() & Long.MaxValue) % (pool - hot)
    }

    def doc(seed: Long, pool: Long, i: Long): DocRow =
      DocRow(f"web$i%08d", (0 until spansPerDoc).flatMap { j =>
        val k = refOf(seed, pool, i, j)
        Seq(InSpan("text", s"caption $seed.$i.$j", "", j * 2), InSpan(inKind(seed)(k), "", ref(k), j * 2 + 1))
      })

    def expected(seed: Long, pool: Long, i: Long): Seq[OutSpan] = {
      val d = doc(seed, pool, i)
      d.spans.zipWithIndex.map { case (s, order) =>
        if (s.kind == "text") OutSpan(d.doc_id, order, "text", s.text, "")
        else {
          val p = payload(seed, refOf(seed, pool, i, (order - 1) / 2), withBytes = false)
          OutSpan(d.doc_id, order, p.kind, p.text, s.media_ref)
        }
      }
    }

    def write(spark: SparkSession, seed: Long, nDocs: Int, pool: Int, dir: String): Stats = {
      import spark.implicits._
      spark.range(pool.toLong).map { k =>
        val p = media(seed, k)
        MediaRow(ref(k), p.bytes, sizeBucket(p.bytes.length))
      }.write.mode("overwrite").parquet(s"$dir/media")
      spark.range(nDocs.toLong).map(i => doc(seed, pool, i))
        .write.mode("overwrite").parquet(s"$dir/docs")
      val bytes = spark.read.parquet(s"$dir/media").agg(sum(length(col("bytes")))).head().getLong(0)
      val distinct = spark.range(nDocs.toLong)
        .flatMap(i => (0 until spansPerDoc).map(j => refOf(seed, pool, i, j))).distinct().count()
      Stats(nDocs, nDocs * 2L * spansPerDoc, nDocs.toLong * spansPerDoc, distinct, pool, bytes)
    }

    def expectedHashes(spark: SparkSession, seed: Long, nDocs: Int, pool: Int): Map[String, String] = {
      import spark.implicits._
      Check.docHashes(spark.range(nDocs.toLong).flatMap(i => expected(seed, pool, i)).toDF())
    }
  }
}

/** Output checks shared by the workloads. */
object Check {

  /** doc_id → SHA-256 of its ordered span sequence `(order, kind, text,
    * media_ref)`. Applied identically to the expected spans and to the
    * committed output, so the two sides hash with one function. */
  def docHashes(spans: DataFrame): Map[String, String] = {
    val row = concat_ws("\u0002", lpad(col("order").cast("string"), 6, "0"), col("kind"),
      col("text"), col("media_ref"))
    spans.groupBy(col("doc_id"))
      .agg(sha2(concat_ws("\u0001", sort_array(collect_list(row))), 256).as("h"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  /** Documents whose committed span sequence differs from the expected one
    * (missing and unexpected documents count too). */
  def mismatches(expected: Map[String, String], actual: Map[String, String]): Int =
    (expected.keySet ++ actual.keySet).count(d => expected.get(d) != actual.get(d))
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.html.Html
import graft.testkit.{HtmlBuilder, PdfBuilder}

/** HTML main-content kernel: fixture expectations, sniffing dispatch,
  * malformed-markup termination, and the mixed pdf+html e2e. */
class HtmlSpec extends AnyFunSuite with SparkSpec {

  HtmlBuilder.all.foreach { f =>
    test(s"${f.name}: main content matches the by-construction expectation") {
      assert(Html.html2txt(f.bytes) == f.expected)
    }
  }

  test("looksHtml: sniffing separates markup from PDF and garbage") {
    HtmlBuilder.all.foreach(f => assert(Html.looksHtml(f.bytes), f.name))
    assert(!Html.looksHtml(PdfBuilder.all.head.bytes))
    assert(!Html.looksHtml(PdfBuilder.f16Garbage.bytes))
    // BOM + leading whitespace before the markup
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ "  \n<html><body>x</body></html>".getBytes("UTF-8")
    assert(Html.looksHtml(bom))
    // %PDF- magic behind leading junk must win over a '<' (damaged PDFs)
    assert(!Html.looksHtml("<junk>\n%PDF-1.4\n".getBytes("UTF-8")))
    assert(!Html.looksHtml("plain text, no markup".getBytes("UTF-8")))
    assert(!Html.looksHtml(Array.emptyByteArray))
  }

  test("imageRefs: drop contexts (figure, nav) exclude their images") {
    assert(Html.imageRefs(HtmlBuilder.h05Images.bytes) == HtmlBuilder.h05ExpectedImages)
  }

  test("anchors: visible text per link, fixtures + structural edges") {
    assert(Html.anchors(HtmlBuilder.h01Article.bytes) ==
      HtmlBuilder.h01ExpectedLinks.zip(HtmlBuilder.h01ExpectedAnchorTexts))
    assert(Html.anchors(HtmlBuilder.h02Density.bytes) ==
      HtmlBuilder.h02ExpectedLinks.zip(HtmlBuilder.h02ExpectedAnchorTexts))
    // inline markup + entity inside the anchor; whitespace collapses
    assert(Html.anchors("<p><a href='/x'>a  <b>b&amp;c</b>\n d</a></p>".getBytes("UTF-8")) ==
      Seq(("/x", "a b&c d")))
    // anchor force-closed by an implied-end-tag pop (<p> autoclose)
    assert(Html.anchors("<p><a href='/y'>before<p>after</p>".getBytes("UTF-8")) ==
      Seq(("/y", "before")))
    // unclosed anchor at EOF still yields its text
    assert(Html.anchors("<p><a href='/z'>tail text".getBytes("UTF-8")) ==
      Seq(("/z", "tail text")))
    // nested anchors (invalid HTML): outer captures, inner emits href + ""
    assert(Html.anchors("<a href='/o'>x<a href='/i'>y</a>z</a>".getBytes("UTF-8")) ==
      Seq(("/o", "xyz"), ("/i", "")))
    // drop-context anchors emit nothing
    assert(Html.anchors("<nav><a href='/n'>Nav</a></nav>".getBytes("UTF-8")).isEmpty)
  }

  test("keep: classifier edges") {
    import Html.Block
    // anchor-dominated heading drops
    assert(!Html.keep(Block("All Links", 2, 9, 9, heading = true, dropContext = false)))
    // normal heading keeps
    assert(Html.keep(Block("Title", 1, 5, 0, heading = true, dropContext = false)))
    // drop context always drops, even long prose
    assert(!Html.keep(Block("w " * 40, 40, 80, 0, heading = false, dropContext = true)))
    // long prose tolerates density 0.5 but not more
    assert(Html.keep(Block("x", 10, 100, 50, heading = false, dropContext = false)))
    assert(!Html.keep(Block("x", 10, 100, 51, heading = false, dropContext = false)))
    // short blocks need near-zero density
    assert(Html.keep(Block("x", 3, 100, 20, heading = false, dropContext = false)))
    assert(!Html.keep(Block("x", 3, 100, 21, heading = false, dropContext = false)))
  }

  test("tableCells: implied closes, nav exclusion, nesting flattens, grid indices") {
    val html = "<nav><table><tr><td>menu</td></tr></table></nav>" +
      "<table><tr><th>h1</th><th>h2</th></tr>" +
      "<tr><td>a<td>b &amp; c</tr>" +                    // implied </td>
      "<tr><td><p>x</p><p>y</p></td><td></td></tr></table>" + // blocks → space; empty cell
      "<table><tr><td>n<table><tr><td>i</td></tr></table>m</td></tr></table>" // nested
    val got = Html.tableCells(html.getBytes("UTF-8"))
    assert(got == Seq(
      (0, 0, 0, "h1"), (0, 0, 1, "h2"),
      (0, 1, 0, "a"), (0, 1, 1, "b & c"),
      (0, 2, 0, "x y"), (0, 2, 1, ""),
      (1, 0, 0, "n i m")), got.toString)
    // unclosed table at EOF still flushes its open cell
    assert(Html.tableCells("<table><tr><td>tail".getBytes("UTF-8")) ==
      Seq((0, 0, 0, "tail")))
    // blocks output is unchanged by capture: table text still classifies
    val blocks = Html.blocks(html)
    assert(blocks.exists(_.text == "menu")) // nav block exists (dropContext)
  }

  test("malformed markup terminates and never throws") {
    val cases = Seq(
      "<br / >looping slash attr",                        // bare '/' in attr position
      "<p <p <p nested brackets",                         // '<' inside a tag
      "<a href=\"unterminated quote value",               // EOF inside quote
      "<p>truncated tag at eof <div",                     // EOF mid-tag
      "</div></div></p>stray closes only",                // close tags with empty stack
      "<script>never closed raw text",                    // EOF inside raw text
      "&#99999999999; &#xZZ; &brokenentity",              // bad character references
      "<p>" + ("<span>" * 2000) + "deep" + ("</span>" * 2000)) // deep nesting
    cases.foreach { c =>
      val out = Html.html2txt(c.getBytes("UTF-8")) // must return, not hang/throw
      assert(out != null, c)
    }
  }

  test("e2e: mixed pdf+html corpus dispatches per payload, error contract intact") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val f01 = PdfBuilder.all.head
    val h01 = HtmlBuilder.h01Article
    val docs = s.createDataset(Seq(
      Model.DocRow("mix01", Seq(
        Model.InSpan("text", "intro", "", 0),
        Model.InSpan("pdf", "", f01.name, 1),
        Model.InSpan("html", "", h01.name, 2),
        Model.InSpan("pdf", "", PdfBuilder.f16Garbage.name, 3),
        Model.InSpan("text", "outro", "", 4))))).toDF()
    val media = s.createDataset(Seq(
      Model.MediaRow(f01.name, f01.bytes, 12),
      Model.MediaRow(h01.name, h01.bytes, 10),
      Model.MediaRow(PdfBuilder.f16Garbage.name, PdfBuilder.f16Garbage.bytes, 8))).toDF()
    val out = java.nio.file.Files.createTempDirectory("html-e2e").toFile.getAbsolutePath
    val got = ExtractJob.run(docs, media, out, runId = "t1")
      .as[Model.OutSpan].collect().sortBy(_.order)
      .map(o => (o.order, o.kind, o.text, o.media_ref))
    val want = Array(
      (0, "text", "intro", ""),
      (1, "pdf_text", f01.expected, f01.name),
      (2, "html_text", h01.expected, h01.name),
      (3, "error", "", PdfBuilder.f16Garbage.name),
      (4, "text", "outro", ""))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }

  test("decode: BOMs win, meta prescan declares latin-1/gbk, bogus names fall back") {
    // latin-1 with meta http-equiv: high bytes decode to accents, not U+FFFD
    assert(Html.html2txt(HtmlBuilder.h06Latin1.bytes) == HtmlBuilder.h06Latin1.expected)
    // same bytes decoded as UTF-8 would mangle é (0xE9 is an invalid UTF-8 lead)
    assert(new String(HtmlBuilder.h06Latin1.bytes,
      java.nio.charset.StandardCharsets.UTF_8).contains('�'))
    // UTF-16LE BOM
    assert(Html.html2txt(HtmlBuilder.h07Utf16.bytes) == HtmlBuilder.h07Utf16.expected)
    // UTF-16BE BOM
    val be = Array[Byte](0xfe.toByte, 0xff.toByte) ++
      "<p>big endian page with ten words of prose to keep here</p>".getBytes("UTF-16BE")
    assert(Html.looksHtml(be))
    assert(Html.html2txt(be) == "big endian page with ten words of prose to keep here\n")
    // GBK via meta charset (JDK ships the codec)
    val gbk = ("<html><head><meta charset=\"gbk\"></head><body><p>" +
      "中文 页面 的 文本 提取 需要 正确 的 字符 集合 解码 过程</p></body></html>").getBytes("GBK")
    assert(Html.html2txt(gbk) == "中文 页面 的 文本 提取 需要 正确 的 字符 集合 解码 过程\n")
    // bogus charset name → UTF-8 fallback, no exception
    val bogus = "<html><head><meta charset=\"no-such-cs\"></head><body><p>plain ascii prose with at least ten words in it total</p></body></html>".getBytes("UTF-8")
    assert(Html.html2txt(bogus).startsWith("plain ascii"))
  }

  test("docMeta: title + description entity-decoded, absent fields empty") {
    assert(Html.docMeta(HtmlBuilder.h01Article.bytes) == (("Site — Title", "")))
    assert(Html.docMeta(HtmlBuilder.h05Images.bytes) == (("", "")))
    assert(Html.docMeta(HtmlBuilder.h06Latin1.bytes) ==
      (("Café du Coin", "Le petit café — menu & horaires")))
    // whitespace collapse + numeric entity + single quotes
    val h = ("<html><head><title>  A &#66;\n title </title>" +
      "<meta name='description' content='d&amp;e'></head></html>").getBytes("UTF-8")
    assert(Html.docMeta(h) == (("A B title", "d&e")))
  }
}

package graft.pdf

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.testkit.{KernelBench, PdfBuilder}

/** Exactness pin for layout reassembly (`Layout.renderText`): one SHA-256
  * over `pdf2txt` of a fixed input set that drives `makePlane` through
  * exact distance ties, `isBetween` deprioritizations, overlapping boxes,
  * mixed font sizes and the `MAX_BOXES` cap. The digest moves only with a
  * deliberate change of extraction output. */
class LayoutSpec extends AnyFunSuite {

  private val Sizes = Array(4, 6, 8, 10, 12, 12, 12, 18, 24)

  private def word(rnd: java.util.Random): String =
    Seq.fill(1 + rnd.nextInt(10))(('a' + rnd.nextInt(26)).toChar).mkString

  private def tj(size: Int, x: Int, y: Int, s: String): String =
    s"BT /F1 $size Tf $x $y Td ($s) Tj ET\n"

  /** A one-font document, one uncompressed content stream per page. */
  private def pdf(pages: Seq[String]): Array[Byte] = {
    val pageIds = pages.indices.map(3 + _ * 2)
    val fontId = 3 + pages.size * 2
    val objs = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> s"<< /Type /Pages /Kids [${pageIds.map(k => s"$k 0 R").mkString(" ")}] /Count ${pages.size} >>",
      fontId -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>") ++
      pages.zip(pageIds).flatMap { case (content, id) =>
        Seq(id -> (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 $fontId 0 R >> >> /Contents ${id + 1} 0 R >>"),
          (id + 1) -> PdfBuilder.streamObj("", content))
      }
    PdfBuilder.build(objs, 1)
  }

  /** 1-340 chunks on a 12-unit grid (exact distance ties) spread over the
    * page or crowded into one corner (boxes inside other pairs' bounding
    * boxes), a third of them continuing the previous chunk's line. */
  private def randomPage(rnd: java.util.Random): String = {
    val n = 1 + rnd.nextInt(if (rnd.nextInt(4) == 0) 340 else 40)
    val (cols, rows) = if (rnd.nextBoolean()) (50, 66) else (12, 16)
    val sb = new StringBuilder
    var x = 0
    var y = 0
    var size = 12
    for (_ <- 0 until n) {
      val w = word(rnd)
      if (rnd.nextInt(3) == 0) x += 12 * (1 + rnd.nextInt(4))
      else {
        x = 12 * rnd.nextInt(cols)
        y = 12 * rnd.nextInt(rows)
        size = Sizes(rnd.nextInt(Sizes.length))
      }
      sb.append(tj(size, x, y, w))
    }
    sb.toString
  }

  /** `cols` × `rows` one-word boxes far apart, emitted column by column so
    * no two consecutive chunks share a line: every chunk is its own box. */
  private def isolatedPage(cols: Int, rows: Int): (String, String) = {
    val sb = new StringBuilder
    val text = new StringBuilder
    for (c <- 0 until cols; r <- 0 until rows) {
      val w = s"c${c}r$r"
      sb.append(tj(4, 10 + c * 36, 770 - r * 44, w))
      text.append(w).append('\n')
    }
    (sb.toString, text.toString)
  }

  private def text(bytes: Array[Byte]): String =
    try Pdf.pdf2txt(bytes) catch { case e: Exception => s"!${e.getClass.getName}" }

  test("pdf2txt digest over fixtures, bench media, random layouts and capped pages") {
    val rnd = new java.util.Random(20261017L)
    val random = Iterator.fill(3000)(pdf(Seq.fill(1 + rnd.nextInt(3))(randomPage(rnd))))
    // 17 × 18 = 306 boxes > MAX_BOXES: emitted as-is, in emission order;
    // 15 × 20 = 300 boxes: the largest page makePlane clusters
    val capped = isolatedPage(17, 18)
    val full = isolatedPage(15, 20)
    assert(text(pdf(Seq(capped._1))) == capped._2)
    val fixtures = PdfBuilder.all :+ PdfBuilder.f16Garbage
    val inputs = fixtures.iterator.map(_.bytes) ++ KernelBench.genMedia(400).iterator ++
      random ++ Iterator(pdf(Seq(capped._1)), pdf(Seq(full._1, capped._1, full._1)))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var count = 0
    inputs.foreach { bytes =>
      val t = text(bytes).getBytes(UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(t.length).array())
      md.update(t)
      count += 1
    }
    assert(count == fixtures.size + 400 + 3000 + 2)
    val digest = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(digest == "1d83b33dadda40efda5cd917f9f1258f0c3e89963f287322be36914e5f96a3bb", s"layout digest $digest")
  }
}

package perfbench

import graft.pdf.{Kind, Lex, ObjectStorage, PagesExtractor, XRef}
import graft.html.Html

import java.lang.management.ManagementFactory
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** Single-thread kernel-layer timings, taken by calling the kernels' public
  * functions in the order their entry points call them. */
object Layers {

  private val threadBean = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = threadBean.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** Phase sums over a PDF sample: microseconds per media for each phase,
    * media per second on one thread, KB allocated per media, and how many
    * composed outputs differed from `Pdf.pdf2txt`. */
  final case class PdfPhases(media: Int, perSec: Double, fromBytesUs: Double, xrefUs: Double,
                             storageUs: Double, pageTreeUs: Double, contentUs: Double,
                             utf8Us: Double, allocKb: Double, mismatches: Int)

  /** `Pdf.pdf2txt`, one public call per phase, in `Pdf.openDocument` order:
    * lex, cross-reference table, object storage, root → page tree, content
    * streams, UTF-8. Returns the text and the nanoseconds of each phase. */
  def pdfComposed(bytes: Array[Byte]): (String, Array[Long]) = {
    val ns = new Array[Long](6)
    var t = System.nanoTime()
    def lap(i: Int): Unit = { val n = System.nanoTime(); ns(i) += n - t; t = n }
    val buffer = Lex.fromBytes(bytes); lap(0)
    val crossRefOffset0 = XRef.getCrossRefOffset(buffer)
    val (trailerOffsets, damaged, crossRefOffset) = XRef.getTrailerOffsets(buffer, crossRefOffset0)
    val id2offsets =
      if (damaged) XRef.getId2OffsetsBroken(buffer) else XRef.getId2Offsets(buffer, trailerOffsets)
    val encrypt = XRef.getEncryptData(buffer, trailerOffsets(0)._1, trailerOffsets(0)._2, id2offsets); lap(1)
    val storage = new ObjectStorage(buffer, id2offsets, encrypt); lap(2)
    val extractor = pagesExtractor(buffer, crossRefOffset, storage, encrypt); lap(3)
    val raw = extractor.getText(); lap(4)
    val text = Lex.toUtf8(raw); lap(5)
    (text, ns)
  }

  /** The trailer → /Root → /Pages walk of `Pdf`'s private `getText`. */
  private def pagesExtractor(buffer: String, crossRefOffset: Int, storage: ObjectStorage,
                             encrypt: Lex.Dict): PagesExtractor = {
    var trailerOffset = crossRefOffset
    if (buffer.regionMatches(crossRefOffset, "xref", 0, 4))
      trailerOffset = Lex.efind(buffer, "trailer", trailerOffset) + "trailer".length
    val trailer = Lex.getDictionaryData(buffer, trailerOffset)
    val rootPair = trailer.getOrElse("/Root", Lex.err("get_text: no /Root"))
    if (rootPair.kind != Kind.INDIRECT_OBJECT) Lex.err("get_text: /Root value must be INDIRECT_OBJECT")
    val root = storage.getObject(Lex.getIdGen(rootPair.raw)._1)
    if (root.kind != Kind.DICTIONARY) Lex.err("get_text: /Root indirect object must be a dictionary")
    val pagesPair = Lex.getDictionaryData(root.raw, 0).getOrElse("/Pages", Lex.err("get_text: no /Pages"))
    if (pagesPair.kind != Kind.INDIRECT_OBJECT) Lex.err("get_text: /Pages value must be INDRECT_OBJECT")
    new PagesExtractor(Lex.getIdGen(pagesPair.raw)._1, storage, encrypt, buffer)
  }

  def pdfPhases(sample: Seq[Array[Byte]]): PdfPhases = {
    val tot = new Array[Long](6)
    var bad = 0
    var a = 0L
    sample.foreach { b =>
      val a0 = allocated()
      val (text, ns) = pdfComposed(b)
      a += allocated() - a0
      var i = 0
      while (i < 6) { tot(i) += ns(i); i += 1 }
      if (text != graft.pdf.Pdf.pdf2txt(b)) bad += 1
    }
    val n = math.max(1, sample.size)
    val ns = tot.sum
    def us(i: Int) = tot(i) / 1e3 / n
    PdfPhases(sample.size, if (ns > 0) sample.size / (ns / 1e9) else 0.0,
      us(0), us(1), us(2), us(3), us(4), us(5), a / 1024.0 / n, bad)
  }

  final case class HtmlPhases(pages: Int, perSec: Double, sniffUs: Double, decodeUs: Double,
                              parseUs: Double, keepUs: Double, allocKb: Double, mismatches: Int)

  /** `ExtractJob.extract1`'s HTML leg, one public call per phase: sniff
    * (`looksHtml`), `decode`, `parse`, and the `keep` classifier. */
  def htmlPhases(sample: Seq[Array[Byte]]): HtmlPhases = {
    val tot = new Array[Long](4)
    var bad = 0
    var a = 0L
    sample.foreach { b =>
      val a0 = allocated()
      var t = System.nanoTime()
      def lap(i: Int): Unit = { val n = System.nanoTime(); tot(i) += n - t; t = n }
      val isHtml = Html.looksHtml(b); lap(0)
      val s = Html.decode(b); lap(1)
      val parsed = Html.parse(s); lap(2)
      val sb = new java.lang.StringBuilder
      parsed.blocks.foreach(bl => if (Html.keep(bl)) sb.append(bl.text).append('\n')); lap(3)
      a += allocated() - a0
      if (!isHtml || sb.toString != Html.html2txt(b)) bad += 1
    }
    val n = math.max(1, sample.size)
    val ns = tot.sum
    def us(i: Int) = tot(i) / 1e3 / n
    HtmlPhases(sample.size, if (ns > 0) sample.size / (ns / 1e9) else 0.0,
      us(0), us(1), us(2), us(3), a / 1024.0 / n, bad)
  }

  /** Kernel-only rate: `ExtractJob.extract1` over `media` on a fixed pool
    * of `threads` threads, no Spark — the shape of `KernelBench.run`, with
    * the content sniff so HTML payloads run too, and failures counted the
    * way the pipeline counts them (as error spans, not crashes). */
  def kernelRate(media: Array[Array[Byte]], threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    val next = new AtomicInteger(0)
    val sink = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val tasks = (0 until threads).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndIncrement()
          while (i < media.length) {
            try sink.addAndGet(graft.ExtractJob.extract1(media(i))._2.length)
            catch { case NonFatal(_) => sink.incrementAndGet() }
            i = next.getAndIncrement()
          }
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    media.length / ((System.nanoTime() - t0) / 1e9)
  }

  /** Host-state probe: single-thread kernel rate on a fixed PDF set
    * (`KernelBench.genMedia`). Recorded to explain slow runs; never used to
    * select runs. */
  lazy val probeMedia: Array[Array[Byte]] = graft.testkit.KernelBench.genMedia(120)
  def probe(): Double = {
    graft.testkit.KernelBench.run(probeMedia.take(40), 1) // JIT settle on the probe's shape
    graft.testkit.KernelBench.run(probeMedia, 1)
  }

  /** JVM-wide GC seconds so far. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  /** Bytes allocated so far by every live thread. */
  def allocatedAll(): Long = threadBean.getThreadAllocatedBytes(threadBean.getAllThreadIds).filter(_ > 0).sum

  /** Resets the peak resident set to the current one (Linux; a no-op
    * elsewhere), so a later `peakRssMb` covers only what ran since. */
  def resetPeakRss(): Unit =
    try java.nio.file.Files.write(java.nio.file.Paths.get("/proc/self/clear_refs"), "5".getBytes("US-ASCII"))
    catch { case NonFatal(_) => () }

  /** Peak resident set of this process, MB (VmHWM). */
  def peakRssMb(): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) return ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}

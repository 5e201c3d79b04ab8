package graft.testkit

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Spark-free kernel throughput: the bench corpus's deterministic PDF mix
  * (`Corpus.benchMedia`) and `pdf2txt` on a fixed thread pool — isolates
  * kernel throughput + thread scaling from all Spark machinery. */
object KernelBench {

  def genMedia(n: Int, heavyEvery: Int = 100, pdfsPerDoc: Int = 2): Array[Array[Byte]] =
    Array.tabulate(n)(id => Corpus.benchMedia(id, heavyEvery, pdfsPerDoc))

  def run(media: Array[Array[Byte]], threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    val next = new AtomicInteger(0)
    val sink = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val tasks = (0 until threads).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndIncrement()
          while (i < media.length) {
            sink.addAndGet(graft.pdf.Pdf.pdf2txt(media(i)).length)
            i = next.getAndIncrement()
          }
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    val sec = (System.nanoTime() - t0) / 1e9
    media.length / sec
  }
}

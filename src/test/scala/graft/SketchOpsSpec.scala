package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SketchOps

/** HLL and CMS sketches vs independent JVM recomputation + analytic bounds. */
class SketchOpsSpec extends AnyFunSuite with SparkSpec {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Independent register computation (hex-string split, like the oracle). */
  private def refRegisters(items: Seq[String], p: Int): Map[Int, Int] = {
    val nHex = p / 4
    items.map { s =>
      val h = md5hex(s)
      val reg = Integer.parseInt(h.substring(0, nHex), 16)
      val v = java.lang.Long.parseLong(h.substring(nHex, 16), 16)
      val bits = 64 - p
      val rho = if (v == 0) bits + 1 else bits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(v))
      (reg, rho)
    }.groupBy(_._1).map { case (r, rs) => r -> rs.map(_._2).max }
  }

  test("hllRegisters matches an independent MD5 register computation bit-for-bit") {
    val sp = spark; import sp.implicits._
    val items = Seq.tabulate(500)(i => s"item-$i") ++ Seq.tabulate(100)(i => s"item-$i") // dups
    val got = SketchOps.hllRegisters(items.toDF("x"), col("x"), p = 8)
      .as[(Int, Int)].collect().toMap
    assert(got == refRegisters(items, 8))
  }

  test("hllCorrected estimates known cardinalities within HLL error bounds") {
    val sp = spark; import sp.implicits._
    for (n <- Seq(100, 2000)) {
      val items = (0 until n).map(i => s"key-$i") ++ (0 until n / 2).map(i => s"key-$i")
      val est = SketchOps.hllCorrected(
        SketchOps.hllRegisters(items.toDF("x"), col("x"), p = 8), p = 8)
      // p=8 → standard error 1.04/sqrt(256) ≈ 6.5%; allow 4 sigma
      assert(math.abs(est - n) / n < 0.26, s"n=$n est=$est")
    }
  }

  test("hllEstimate emits exact integer pieces consistent with the registers") {
    val sp = spark; import sp.implicits._
    val items = Seq.tabulate(300)(i => s"e-$i")
    val regs = SketchOps.hllRegisters(items.toDF("x"), col("x"), p = 8)
    val row = SketchOps.hllEstimate(regs, p = 8).head()
    val ref = refRegisters(items, 8)
    assert(row.getAs[Int]("m") == 256)
    assert(row.getAs[Int]("nonzero") == ref.size)
    val z = ref.values.map(r => 1L << (40 - math.min(r, 40))).sum +
      (256L - ref.size) * (1L << 40)
    assert(row.getAs[Long]("z_scaled") == z)
    assert(math.abs(row.getAs[Double]("estimate_raw") -
      SketchOps.hllAlphaScaled(8) / z.toDouble) == 0.0)
  }

  test("cmsSketch counters match independent recomputation; estimates never undercount") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(11)
    // zipf-ish: word-j appears ~ 600/(j+1) times
    val words = (0 until 40).flatMap(j => Seq.fill(600 / (j + 1))(s"w$j"))
    val shuffled = rnd.shuffle(words)
    val df = shuffled.toDF("w")
    val sketch = SketchOps.cmsSketch(df, col("w"), depth = 4, width = 256)
    // independent counter matrix
    val ref = shuffled.flatMap(w => (0 until 4).map(d => (d, w)))
      .groupBy { case (d, w) =>
        val h = java.lang.Long.parseLong(md5hex(s"$d:$w").substring(0, 8), 16)
        (d, (h % 256).toInt)
      }.map { case (k, vs) => k -> vs.size.toLong }
    assert(sketch.as[(Int, Int, Long)].collect()
      .map { case (d, b, c) => ((d, b), c) }.toMap == ref)
    // point estimates: CMS >= truth, and = truth for the heaviest word
    val truth = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val probes = truth.keys.toSeq.toDF("w")
    val est = SketchOps.cmsEstimate(sketch, probes, col("w"), depth = 4, width = 256)
      .as[(String, Long)].collect().toMap
    truth.foreach { case (w, n) => assert(est(w) >= n, s"$w undercounted") }
    // with 40 distinct words in 256 buckets × 4 rows, the min-row is
    // collision-free for most words; at least half must be exact
    val exact = truth.count { case (w, n) => est(w) == n }
    assert(exact >= truth.size / 2)
  }

  test("logHistogram: exact floor-log2 bins, sentinel bin, merge law") {
    val sp = spark; import sp.implicits._
    val vals = Seq(-3L, 0L, 1L, 1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L)
    val got = SketchOps.logHistogram(vals.toDF("v"), col("v"))
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      -1 -> ((2L, -3L, 0L)), 0 -> ((2L, 1L, 1L)), 1 -> ((2L, 2L, 3L)),
      2 -> ((2L, 4L, 7L)), 3 -> ((1L, 8L, 8L)), 9 -> ((1L, 1023L, 1023L)),
      10 -> ((1L, 1024L, 1024L))))
    // merge law: histogram(a ++ b) == combine(histogram(a), histogram(b))
    val (a, b) = vals.splitAt(5)
    val merged = SketchOps.logHistogram(a.toDF("v"), col("v"))
      .unionByName(SketchOps.logHistogram(b.toDF("v"), col("v")))
      .groupBy(col("bin"))
      .agg(sum(col("n")).as("n"), min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(merged == got)
  }

  test("merge ops: sketch(a ++ b) == merge(sketch(a), sketch(b)) for HLL, histogram, CMS") {
    val sp = spark; import sp.implicits._
    val all = Seq.tabulate(400)(i => s"item-${i % 157}")
    val (a, b) = all.splitAt(143)
    // HLL: per-register max
    val wholeHll = SketchOps.hllRegisters(all.toDF("x"), col("x"))
      .as[(Int, Int)].collect().toMap
    val mergedHll = SketchOps.mergeHllRegisters(
        SketchOps.hllRegisters(a.toDF("x"), col("x")),
        SketchOps.hllRegisters(b.toDF("x"), col("x")))
      .as[(Int, Int)].collect().toMap
    assert(mergedHll == wholeHll)
    // histogram: counts add, extrema combine
    val lens = all.map(_.length.toLong)
    val (la, lb) = lens.splitAt(143)
    val wholeHist = SketchOps.logHistogram(lens.toDF("v"), col("v"))
      .as[(Int, Long, Long, Long)].collect().toSet
    val mergedHist = SketchOps.mergeLogHistograms(
        SketchOps.logHistogram(la.toDF("v"), col("v")),
        SketchOps.logHistogram(lb.toDF("v"), col("v")))
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(mergedHist == wholeHist)
    // CMS: counters add
    val wholeCms = SketchOps.cmsSketch(all.toDF("w"), col("w"))
      .as[(Int, Int, Long)].collect().toSet
    val mergedCms = SketchOps.mergeCmsSketches(
        SketchOps.cmsSketch(a.toDF("w"), col("w")),
        SketchOps.cmsSketch(b.toDF("w"), col("w")))
      .as[(Int, Int, Long)].collect().toSet
    assert(mergedCms == wholeCms)
  }

  test("logHistogramQuantiles: answer bin is the exact quantile's bin, every q") {
    val sp = spark; import sp.implicits._
    // skewed values across several octaves, n = 100
    val vals = Seq.tabulate(100)(i => ((i.toLong * i + 1) % 4096) + 1)
    val qs = Seq((1, 10), (1, 4), (1, 2), (3, 4), (99, 100), (1, 1))
    val got = SketchOps.logHistogramQuantiles(vals.toDF("v"), col("v"), qs)
      .as[(Int, Int, Int, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got.keySet == qs.toSet)
    val sorted = vals.sorted
    qs.foreach { case (n, d) =>
      // exact q-th smallest value (1-indexed rank ceil(q * total))
      val rank = ((vals.size.toLong * n + d - 1) / d).toInt
      val exact = sorted(rank - 1)
      val expectBin = 63 - java.lang.Long.numberOfLeadingZeros(exact)
      val (bin, lo, hi) = got((n, d))
      assert(bin == expectBin, s"q=$n/$d")
      // the reported [lo, hi] brackets the exact quantile value
      assert(lo <= exact && exact <= hi, s"q=$n/$d exact=$exact lo=$lo hi=$hi")
    }
  }
}

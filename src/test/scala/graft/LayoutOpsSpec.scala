package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.LayoutOps

/** Z-order layout: key correctness vs an independent bit-interleave, the
  * quantified pruning claim (a slab predicate on EITHER dimension touches
  * a strict subset of z-bins, while a row-major layout prunes only its
  * own sort column), and bucketed-table join/agg result invariance. */
class LayoutOpsSpec extends AnyFunSuite with SparkSpec {

  override protected def extraConf: Map[String, String] =
    Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString)

  /** Independent reference interleave (straight loop, no Spark). */
  private def refZ(a: Long, b: Long, bits: Int): Long = {
    var z = 0L
    for (i <- 0 until bits) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("zorderKey matches an independent bit-interleave on the full 8-bit grid") {
    val sp = spark; import sp.implicits._
    val rows = for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong)
    val got = rows.toDF("a", "b")
      .select(col("a"), col("b"), LayoutOps.zorderKey(col("a"), col("b"), 8).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) => assert(z == refZ(a, b, 8), s"a=$a b=$b") }
    // the curve is a bijection on the grid
    assert(got.map(_._3).distinct.length == rows.length)
    // negative inputs contribute exactly their two's-complement low bits
    val negs = Seq((-1L, 5L), (-128L, -3L), (-256L, 255L), (Long.MinValue, Long.MaxValue),
      (Int.MinValue.toLong, -77L))
    negs.toDF("a", "b")
      .select(col("a"), col("b"), LayoutOps.zorderKey(col("a"), col("b"), 8).as("z"))
      .as[(Long, Long, Long)].collect()
      .foreach { case (a, b, z) => assert(z == refZ(a & 0xff, b & 0xff, 8), s"a=$a b=$b z=$z") }
  }

  test("z-order bins prune slab predicates on BOTH dimensions; row-major only on one") {
    val sp = spark; import sp.implicits._
    val n = 64 // 64x64 grid, bits=6, binBits=6 -> 64 bins of 64 points
    val grid = (for (a <- 0 until n; b <- 0 until n) yield (a.toLong, b.toLong)).toDF("a", "b")
    val laid = LayoutOps.zorderLayout(grid, col("a"), col("b"), bits = 6, binBits = 6)

    def binsTouched(pred: org.apache.spark.sql.Column): Long =
      laid.where(pred).select(countDistinct(col("zbin"))).as[Long].head()

    val totalBins = laid.select(countDistinct(col("zbin"))).as[Long].head()
    assert(totalBins == 64)
    // an 8-wide slab on either dimension covers 8/64 = 1/8 of the rows;
    // z-bins are 8x8 tiles, so the slab intersects exactly one tile-row
    // or tile-column: 8 of 64 bins
    assert(binsTouched(col("a") >= 8 && col("a") < 16) == 8)
    assert(binsTouched(col("b") >= 8 && col("b") < 16) == 8)
    // row-major layout (sort by a): same slab on a prunes perfectly,
    // but the slab on b touches EVERY bin — the failure z-order fixes
    val rowMajor = grid.withColumn("zbin", (col("a") / lit(1)).cast("long")) // bin = a (64 bins of one a-line each)
    def rmBins(pred: org.apache.spark.sql.Column): Long =
      rowMajor.where(pred).select(countDistinct(col("zbin"))).as[Long].head()
    assert(rmBins(col("a") >= 8 && col("a") < 16) == 8)
    assert(rmBins(col("b") >= 8 && col("b") < 16) == 64)
  }

  test("zorderLayout zbin is the top binBits of zkey") {
    val sp = spark; import sp.implicits._
    val grid = (for (a <- 0 until 32; b <- 0 until 32) yield (a.toLong, b.toLong)).toDF("a", "b")
    val bad = LayoutOps.zorderLayout(grid, col("a"), col("b"), bits = 5, binBits = 4)
      .where(col("zbin") =!= shiftright(col("zkey"), 6).cast("int")).count()
    assert(bad == 0)
  }

  test("zoneMap + rangeKeep: kept-bin counts match the pruning geometry") {
    val sp = spark; import sp.implicits._
    val n = 64
    val grid = (for (a <- 0 until n; b <- 0 until n) yield (a.toLong, b.toLong)).toDF("a", "b")
    val laid = LayoutOps.zorderLayout(grid, col("a"), col("b"), bits = 6, binBits = 6)
    val zm = LayoutOps.zoneMap(laid, col("zbin"), Seq("a", "b"))
    val flagged = LayoutOps.rangeKeep(LayoutOps.rangeKeep(zm, "a", 8, 15), "b", 8, 15)
    // 64 bins = 8x8 tiles; the [8,15] slab is exactly one tile-row/column
    assert(flagged.count() == 64)
    assert(flagged.where(col("keep_a")).count() == 8)
    assert(flagged.where(col("keep_b")).count() == 8)
    // keep flags are sound: every bin with a matching row is kept
    val mustKeepA = laid.where(col("a") >= 8 && col("a") <= 15)
      .select("zbin").distinct().as[Int].collect().toSet
    val keptA = flagged.where(col("keep_a")).select(col("zbin").cast("int"))
      .as[Int].collect().toSet
    assert(mustKeepA.subsetOf(keptA))
  }

  test("bucketed join + keyed agg: result identical to the plain formulation") {
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bktspec").toString
    val facts = (0 until 2000).map(i => (i % 97L, i.toLong)).toDF("k", "v")
    val dims = (0 until 97).map(i => (i.toLong, s"dim-$i")).toDF("k", "name")
    LayoutOps.saveBucketed(facts, s"$tmp/f", "spec_bkt_facts", "k", 4)
    LayoutOps.saveBucketed(dims, s"$tmp/d", "spec_bkt_dims", "k", 4)
    val got = spark.table("spec_bkt_facts").join(spark.table("spec_bkt_dims"), Seq("k"))
      .groupBy("k", "name").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    val want = facts.join(dims, Seq("k"))
      .groupBy("k", "name").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }
}

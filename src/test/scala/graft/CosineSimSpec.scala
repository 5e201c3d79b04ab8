package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native codegen cosine expression: bitwise parity with the composed
  * builtin fold, codegen participation, and extensions registration. */
class CosineSimSpec extends AnyFunSuite with SparkSpec {

  override protected def extraConf: Map[String, String] =
    Map("spark.sql.extensions" -> "graft.expressions.GraftExtensions")

  test("bitwise parity with the composed aggregate/zip_with fold") {
    val s = spark
    import s.implicits._
    val r = new scala.util.Random(7)
    val rows = (1 to 200).map(_ => (Array.fill(64)(r.nextDouble() - 0.5), Array.fill(64)(r.nextDouble() - 0.5)))
    val df = s.createDataset(rows).toDF("a", "b")
    val composed = df.select(
      (aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, v) => acc + v) /
        (sqrt(aggregate(col("a"), lit(0.0), (acc, v) => acc + v * v)) *
          sqrt(aggregate(col("b"), lit(0.0), (acc, v) => acc + v * v)))).as("c")).collect().map(_.getDouble(0))
    val fused = df.select(expr("graft_cosine(a, b)").as("c")).collect().map(_.getDouble(0))
    composed.zip(fused).foreach { case (x, y) =>
      assert(java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y))
    }
  }

  test("expression participates in whole-stage codegen") {
    // a range source (not a local relation, which would constant-fold)
    val df = spark.range(8)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"), array(lit(3.0), lit(4.0)).as("b"))
      .select(expr("graft_cosine(a, b)"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)") && p.contains("graft_cosine"), p)
    assert(df.collect().length == 8)
  }

  test("null and type behavior") {
    val s = spark
    val row = s.sql("SELECT graft_cosine(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS c").collect()(0)
    assert(row.isNullAt(0))
    intercept[Exception] { s.sql("SELECT graft_cosine(array('x'), array(1.0d))").collect() }
  }
}

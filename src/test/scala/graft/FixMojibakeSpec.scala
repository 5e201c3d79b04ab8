package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native codegen mojibake-repair expression + the fixMojibake op. */
class FixMojibakeSpec extends AnyFunSuite with SparkSpec {

  override protected def extraConf: Map[String, String] =
    Map("spark.sql.extensions" -> "graft.expressions.GraftExtensions")

  test("repairs single, 3-byte and double-encoded mojibake; healthy text is a fixpoint") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("Caf\u00c3\u00a9", "Caf\u00e9"),                    // utf8(e-acute) as cp1252
      ("don\u00e2\u20ac\u2122t", "don\u2019t"),            // utf8(U+2019) as cp1252
      ("Caf\u00c3\u0192\u00c2\u00a9", "Caf\u00e9"),        // double-encoded
      ("\u00c3\u00bcber \u00c3\u00b6l", "\u00fcber \u00f6l"), // umlauts
      ("Caf\u00e9 propre", "Caf\u00e9 propre"),              // healthy: strict decode aborts
      ("plain ascii", "plain ascii"),                       // fast path
      ("", ""),
      ("A\u00c3", "A\u00c3"),                               // dangling lead byte: decode aborts
      ("\u00c3\u0100", "\u00c3\u0100"))                    // U+0100 has no cp1252 byte: encode aborts
    val df = s.createDataset(rows).toDF("in", "want")
    val got = df.select(expr("graft_fix_mojibake(in)").as("out"), col("want")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"'${r.getString(0)}' != '${r.getString(1)}'"))
    assert(s.sql("SELECT graft_fix_mojibake(CAST(NULL AS STRING))").collect()(0).isNullAt(0))
    intercept[Exception] { s.sql("SELECT graft_fix_mojibake(1)").collect() }
  }

  test("expression participates in whole-stage codegen") {
    val df = spark.range(8)
      .select(concat(lit("Caf\u00c3\u00a9 "), col("id").cast("string")).as("t"))
      .select(expr("graft_fix_mojibake(t)").as("n"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)") && p.contains("graft_fix_mojibake"), p)
    assert(df.collect().forall(_.getString(0).startsWith("Caf\u00e9 ")))
  }

  test("fixMojibake op rewrites text in place; other columns untouched") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "Caf\u00c3\u00a9", "web"), (2L, "ok", "books"))
      .toDF("doc_id", "text", "source")
    val got = operators.TrainingOps.fixMojibake(docs)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "Caf\u00e9", "web"), (2L, "ok", "books")))
  }
}

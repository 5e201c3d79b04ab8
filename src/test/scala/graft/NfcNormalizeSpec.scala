package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native codegen NFC normalization expression + the normalizeNfc op. */
class NfcNormalizeSpec extends AnyFunSuite with SparkSpec {

  override protected def extraConf: Map[String, String] =
    Map("spark.sql.extensions" -> "graft.expressions.GraftExtensions")

  test("NFC composition: decomposed sequences compose, NFC input is a fixpoint") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("cafe\u0301", "caf\u00e9"),       // combining acute composes
      ("caf\u00e9", "caf\u00e9"),        // precomposed passes through
      ("ascii only", "ascii only"),      // ASCII fast path
      ("", ""),
      ("\u1100\u1161", "\uac00"),       // Hangul jamo -> syllable
      ("A\u030a", "\u00c5"),             // A + ring -> Angstrom letter
      ("\u2126", "\u03a9"),              // OHM SIGN: canonical singleton -> Omega
      ("\ufb01", "\ufb01"))              // fi ligature: NFC keeps (NFKC wouldn't)
    val df = s.createDataset(rows).toDF("in", "want")
    val got = df.select(expr("graft_nfc(in)").as("out"), col("want")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"'${r.getString(0)}' != '${r.getString(1)}'"))
    // null propagation + arity/type guards
    assert(s.sql("SELECT graft_nfc(CAST(NULL AS STRING))").collect()(0).isNullAt(0))
    intercept[Exception] { s.sql("SELECT graft_nfc(1)").collect() }
  }

  test("expression participates in whole-stage codegen") {
    val df = spark.range(8)
      .select(concat(lit("e\u0301 "), col("id").cast("string")).as("t"))
      .select(expr("graft_nfc(t)").as("n"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)") && p.contains("graft_nfc"), p)
    assert(df.collect().forall(_.getString(0).startsWith("\u00e9 ")))
  }

  test("normalizeNfc op rewrites the text column in place, other columns untouched") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "cafe\u0301", "web"), (2L, "plain", "books"))
      .toDF("doc_id", "text", "source")
    val got = operators.TrainingOps.normalizeNfc(docs)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "caf\u00e9", "web"), (2L, "plain", "books")))
  }
}

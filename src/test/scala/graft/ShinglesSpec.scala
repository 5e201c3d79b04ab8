package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native graft_shingles kernel must be byte-identical to the
  * composed-builtin formulation it replaced (split(lower)/transform/
  * slice/concat_ws) — the DuckDB oracles replicate THAT formulation, so
  * any divergence here is an oracle break, not a perf detail. */
class ShinglesSpec extends AnyFunSuite with SparkSpec {

  override protected def cores: Int = 2

  /** The pre-round-6 composed-builtin formulation, verbatim. */
  private def shinglesReference(text: org.apache.spark.sql.Column, k: Int) = {
    val toks = split(lower(text), "\\s+")
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  private val cases = Seq(
    "",                                  // empty -> [""] (split yields one empty token)
    "one",                               // short text: single all-token gram
    "a b",                               // exactly k-1 for k=3
    "a b c",                             // exactly k
    "a b c d e f",                       // normal
    "  leading and trailing  ",          // split(\\s+) empty-edge tokens
    "tab\tseparated\nand newline",       // non-space whitespace
    "MIXED Case ÉCOLE Straße ΣΙΓΜΑ",     // unicode lowercasing must match `lower`
    "double  space   runs",              // collapsed by \\s+
    "a " * 40)                           // long repeated

  test("native graft_shingles ≡ composed-builtin formulation (k = 2, 3, 13)") {
    val sp = spark
    import sp.implicits._
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (k <- Seq(2, 3, 13)) {
      val got = df.select(col("id"), operators.TrainingOps.shingles(col("text"), k).as("g"))
        .orderBy("id").collect().map(_.getSeq[String](1))
      val want = df.select(col("id"), shinglesReference(col("text"), k).as("g"))
        .orderBy("id").collect().map(_.getSeq[String](1))
      assert(got.toSeq == want.toSeq, s"k=$k")
    }
  }

  test("null text yields null (null-intolerant, matching the builtin chain)") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, null: String), (2L, "a b c")).toDF("id", "text")
    val got = df.select(operators.TrainingOps.shingles(col("text"), 3).as("g"))
      .collect().map(r => Option(r.get(0)))
    assert(got(0).isEmpty && got(1).nonEmpty)
  }
}

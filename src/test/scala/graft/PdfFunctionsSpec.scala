package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.testkit.PdfBuilder

/** SQL UDF surface: pdf2txt / pdf2txt_safe / pdf2pages from spark.sql. */
class PdfFunctionsSpec extends AnyFunSuite with SparkSpec {

  override protected def cores: Int = 2

  override def beforeAll(): Unit = {
    super.beforeAll()
    functions.PdfFunctions.register(spark)
  }

  test("pdf2txt and pdf2pages work from SQL; _safe nulls garbage") {
    val s = spark
    import s.implicits._
    Seq(
      ("good", PdfBuilder.f01MinimalFlate.bytes),
      ("bad", "garbage".getBytes)
    ).toDF("name", "bytes").createOrReplaceTempView("m")
    val rows = s.sql("SELECT name, pdf2txt_safe(bytes) AS t FROM m ORDER BY name")
      .as[(String, String)].collect()
    assert(rows.toSeq == Seq(("bad", null), ("good", "Hello World\n")))
    val pages = s.sql("SELECT pdf2pages(bytes) AS p FROM m WHERE name = 'good'")
      .as[Seq[String]].collect().head
    assert(pages == Seq("Hello World\n"))
    intercept[Exception] { s.sql("SELECT pdf2txt(bytes) FROM m WHERE name = 'bad'").collect() }
  }
}

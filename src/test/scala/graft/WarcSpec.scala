package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Warc
import graft.testkit.WarcBuilder
import graft.operators.WarcOps

class WarcSpec extends AnyFunSuite with SparkSpec {

  test("records: full archive structure — types, URIs, statuses, bodies") {
    val rs = Warc.records(WarcBuilder.plain).toVector
    assert(rs.map(_.recType) ==
      Vector("warcinfo", "request", "response", "response", "response", "response"))
    val resp = rs.filter(_.recType == "response")
    assert(resp.map(_.httpStatus) == Vector(200, 200, 200, 404))
    assert(resp.map(_.targetUri) == WarcBuilder.docs.map(_.uri) :+ "http://example.org/gone")
    // entity bodies come back byte-identical (HTTP envelope stripped)
    WarcBuilder.docs.zip(resp).foreach { case (d, r) =>
      assert(java.util.Arrays.equals(r.body, d.payload), d.uri)
      assert(r.contentType == d.contentType)
    }
  }

  test("per-record gzip members parse identically to the plain archive") {
    val a = Warc.records(WarcBuilder.plain).toVector
    val b = Warc.records(WarcBuilder.gzipped).toVector
    assert(a.map(_.targetUri) == b.map(_.targetUri))
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x.body, y.body) })
    assert(Warc.looksWarc(WarcBuilder.plain) && Warc.looksWarc(WarcBuilder.gzipped))
  }

  test("responses keeps only HTTP-2xx response records") {
    val r = Warc.responses(WarcBuilder.plain).toVector
    assert(r.map(_._1) == WarcBuilder.docs.map(_.uri))
  }

  test("malformed and truncated archives raise; explode demotes whole file") {
    assertThrows[IllegalArgumentException](Warc.records(WarcBuilder.malformed).toVector)
    val truncated = WarcBuilder.plain.take(WarcBuilder.plain.length / 2)
    // truncation mid-block OR mid-headers must raise, never loop/return junk
    intercept[Exception](Warc.records(truncated).toVector)
  }

  test("extractWarc end-to-end: spans match by construction, gzip == plain") {
    val sp = spark; implicit val s: SparkSession = sp; import sp.implicits._
    val warcs = sp.createDataset(Seq(
      ("w1", WarcBuilder.plain), ("w2", WarcBuilder.gzipped), ("bad", WarcBuilder.malformed)))
      .toDF("warc_ref", "bytes")
    val got = WarcOps.extractWarc(warcs, 4)
      .as[(String, Int, String, String, String)].collect().toSet
    val want = Seq("w1", "w2").flatMap { ref =>
      WarcBuilder.docs.zipWithIndex.map { case (d, i) =>
        (d.uri, 0, d.kind, d.expected, s"$ref#$i")
      }
    }.toSet + (("bad", 0, "error", "", "bad#bad"))
    assert(got == want)
  }
}

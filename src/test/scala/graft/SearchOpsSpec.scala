package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SearchOps

/** BM25 retrieval vs an independent single-threaded JVM recompute of the
  * exact fixed-point scoring contract (same arithmetic, plain loops). */
class SearchOpsSpec extends AnyFunSuite with SparkSpec {

  private val corpus = Seq(
    (1L, "spark shuffle join hash join"),
    (2L, "sort merge join window"),
    (3L, "hash hash hash table scan"),
    (4L, "completely unrelated words here"),
    (5L, ""), // empty doc: counts toward N, never retrieved
    (6L, "join"),
    (7L, null) // NULL text (failed extraction): behaves as empty, dl = 0
  )
  private val queries = Seq((1, "hash"), (1, "join"), (2, "window"))

  /** Reference scorer: same expression tree, plain Scala. */
  private def refScores(k: Int): Seq[(Int, Long, Long, Int)] = {
    val toks = corpus.map { case (id, t) =>
      id -> Option(t).getOrElse("").toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    }
    val nDocs = corpus.size.toLong
    val sumDl = toks.map(_._2.size.toLong).sum
    val terms = queries.map(_._2).distinct
    val df = terms.map(t => t -> toks.count(_._2.contains(t)).toLong).toMap
    val perDoc = for {
      (qid, term) <- queries
      (id, ts) <- toks
      tf = ts.count(_ == term).toLong if tf > 0
    } yield {
      val dl = ts.size.toLong
      val idf = (nDocs - df(term) + 0.5) / (df(term) + 0.5)
      // parenthesize exactly as production: 0.75 * (dl*N / sumdl) — NOT
      // (0.75 * dl*N) / sumdl; IEEE ops are exact-rounded, not associative
      val tfc = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * ((dl * nDocs).toDouble / sumDl)))
      (qid, id) -> math.floor(1000000.0 * idf * tfc).toLong
    }
    val agg = perDoc.groupBy(_._1).map { case ((q, d), xs) => (q, d, xs.map(_._2).sum) }
    agg.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.toSeq.sortBy(r => (-r._3, r._2)).zipWithIndex
        .take(k).map { case ((q, d, s), i) => (q, d, s, i + 1) }
    }.sortBy(r => (r._1, r._4))
  }

  test("bm25TopK matches the independent fixed-point recompute, ranks and scores") {
    val sp = spark; import sp.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val qt = queries.toDF("qid", "term")
    val got = SearchOps.bm25TopK(docs, qt, k = 10)
      .as[(Int, Long, Long, Int)].collect().toSeq.sortBy(r => (r._1, r._4))
    assert(got == refScores(10))
  }

  test("bm25TopK: k bounds results per query; only matching docs appear") {
    val sp = spark; import sp.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val qt = queries.toDF("qid", "term")
    val got = SearchOps.bm25TopK(docs, qt, k = 2)
      .as[(Int, Long, Long, Int)].collect().toSeq
    assert(got.groupBy(_._1).values.forall(_.size <= 2))
    assert(got.forall(_._4 <= 2))
    // doc 4 (no query terms), doc 5 (empty), doc 7 (null text) never retrieved
    assert(!got.exists(r => r._2 == 4L || r._2 == 5L || r._2 == 7L))
    // rarer term separates: for qid 2 ("window"), doc 2 must rank first
    assert(got.filter(_._1 == 2).minBy(_._4)._2 == 2L)
  }

  test("bm25TopKFromIndex through a parquet round trip equals the direct scan") {
    val sp = spark; import sp.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val qt = queries.toDF("qid", "term")
    val tmp = java.nio.file.Files.createTempDirectory("bm25idx-spec").toString
    SearchOps.buildTfIndex(docs).write.parquet(s"$tmp/index")
    SearchOps.corpusStats(docs).write.parquet(s"$tmp/stats")
    val viaIndex = SearchOps.bm25TopKFromIndex(
        spark.read.parquet(s"$tmp/index"), spark.read.parquet(s"$tmp/stats"), qt, k = 10)
      .as[(Int, Long, Long, Int)].collect().toSet
    val direct = SearchOps.bm25TopK(docs, qt, k = 10)
      .as[(Int, Long, Long, Int)].collect().toSet
    assert(viaIndex == direct && direct.nonEmpty)
    // the index is query-independent: full vocabulary, dl carried per doc
    val idx = spark.read.parquet(s"$tmp/index")
    assert(idx.columns.toSet == Set("doc_id", "dl", "term", "tf"))
    assert(idx.select("term").distinct().count() >
      queries.map(_._2).distinct.size.toLong)
  }

  test("bm25TopK is repartition-invariant (scores are integer sums)") {
    val sp = spark; import sp.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val qt = queries.toDF("qid", "term")
    val a = SearchOps.bm25TopK(docs.repartition(7), qt, k = 10)
      .as[(Int, Long, Long, Int)].collect().toSet
    val b = SearchOps.bm25TopK(docs.coalesce(1), qt, k = 10)
      .as[(Int, Long, Long, Int)].collect().toSet
    assert(a == b)
  }
}

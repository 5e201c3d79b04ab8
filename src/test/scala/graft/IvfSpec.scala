package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfSpec extends AnyFunSuite with SparkSpec {

  test("IVF kNN: scores agree with brute force on shared pairs; bpe count matches regex") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.orderBy(col("vec_id")).limit(3)
    val brute = operators.TrainingOps.knnBrute(e, q, k = 5)
      .select("query_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = operators.TrainingOps.knnIvf(e, q, dim = 64, k = 5)
      .select("query_id", "vec_id", "cos").collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      brute.get((r.getLong(0), r.getLong(1))).foreach(b => assert(math.abs(b - r.getDouble(2)) < 1e-12))
    }
    // determinism: same result twice
    val again = operators.TrainingOps.knnIvf(e, q, dim = 64, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(again.sameElements(ivf.map(r => (r.getLong(0), r.getLong(1))).sorted))

    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val total = operators.TrainingOps.tokenCountBpe(d).agg(sum("n_bpe_tokens")).head.getLong(0)
    assert(total > 0)
  }

  test("Lloyd-refined (KMeans) quantizer is deterministic and searchable") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.orderBy(col("vec_id")).limit(2)
    def fit() = operators.TrainingOps.ivfCentroids(e, nCells = 8, kmeans = true, sampleFraction = 0.5)
    val c1 = fit()
    val c2 = fit()
    assert(c1.length == 8)
    c1.zip(c2).foreach { case (a, b) => assert(a.sameElements(b)) } // seeded -> reproducible
    val res = operators.TrainingOps.knnIvf(e, q, dim = 64, k = 5, nCells = 8, centroids0 = c1)
    assert(res.count() > 0)
  }

  test("IVF quantizer persists and loads bit-identically; search through it matches") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.orderBy(col("vec_id")).limit(3)
    val cents = operators.TrainingOps.ivfCentroids(e, nCells = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivf-rt").toString + "/centroids"
    operators.TrainingOps.saveCentroids(spark, cents, dir)
    val loaded = operators.TrainingOps.loadCentroids(spark, dir)
    // bitwise round trip, cell order preserved
    assert(loaded.length == cents.length)
    cents.zip(loaded).foreach { case (a, b) => assert(a.sameElements(b)) }
    // a search routed through the persisted quantizer returns the exact
    // same result set as the in-memory quantizer
    def rows(c: Array[Array[Double]]) =
      operators.TrainingOps.knnIvf(e, q, dim = 64, k = 5, centroids0 = c)
        .select("query_id", "vec_id", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(rows(cents) == rows(loaded))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.JoinOps

/** asofJoin and rangeJoin vs brute-force formulations on small data. */
class JoinOpsSpec extends AnyFunSuite with SparkSpec {

  test("asofJoin: latest right at-or-before each left, inclusive ties, null when none") {
    val sp = spark; import sp.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 25L, "b"), (1L, 5L, "c"),
      (2L, 100L, "d"), (3L, 7L, "e"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, "r10"), (1L, 20L, "r20"), (2L, 90L, "r90"))
      .toDF("rk", "rt", "rv")
    val got = JoinOps.asofJoin(left, "k", "t", right, "rk", "rt")
      .select("tag", "rv", "rt").as[(String, Option[String], Option[Long])]
      .collect().toSet
    assert(got == Set(
      ("a", Some("r10"), Some(10L)), // inclusive: rt == t matches
      ("b", Some("r20"), Some(20L)),
      ("c", None, None),             // before any right row
      ("d", Some("r90"), Some(90L)),
      ("e", None, None)))            // key with no right rows at all
  }

  test("asofJoin: tieBreak dedups equal (key, time) right rows deterministically") {
    val sp = spark; import sp.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 10L, 3L, "lo"), (1L, 10L, 7L, "hi")).toDF("rk", "rt", "pri", "rv")
    val got = JoinOps.asofJoin(left, "k", "t", right, "rk", "rt", tieBreak = Seq("pri"))
      .select("rv").as[String].collect().toSeq
    assert(got == Seq("hi")) // largest tieBreak wins
  }

  test("asofJoin matches the brute-force theta-join on random data") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    val left = Seq.tabulate(200)(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
      .toDF("k", "t", "lid")
    // unique (key, time) right side, as the contract requires
    val right = Seq.tabulate(120)(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
      .toDF("rk", "rt", "rid")
    val got = JoinOps.asofJoin(left, "k", "t", right, "rk", "rt")
      .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
    val brute = left.join(right, col("k") === col("rk") && col("rt") <= col("t"), "left")
      .groupBy(col("lid")).agg(max_by(col("rid"), col("rt")).as("rid"),
        max(col("rt")).as("mrt"))
      .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(got == brute)
  }

  test("rangeJoin matches the brute-force inequality join across bucket boundaries") {
    val sp = spark; import sp.implicits._
    val points = Seq.tabulate(300)(i => (i.toLong * 37 % 997, i.toLong)).toDF("pt", "pid")
    // intervals spanning 0–3 buckets at bucket=100, incl. exact-boundary ends
    val iv = Seq((0L, 100L, 1L), (95L, 105L, 2L), (100L, 300L, 3L),
      (500L, 501L, 4L), (996L, 997L, 5L), (400L, 400L, 6L))
      .toDF("s", "e", "iid")
    val got = JoinOps.rangeJoin(points, "pt", iv, "s", "e", bucketUs = 100L)
      .select("iid", "pid").as[(Long, Long)].collect().toSet
    val brute = iv.join(points, col("pt") >= col("s") && col("pt") < col("e"))
      .select("iid", "pid").as[(Long, Long)].collect().toSet
    assert(got == brute && got.nonEmpty)
    assert(!got.exists(_._1 == 6L)) // empty interval [400,400) matches nothing
  }

  test("saltedJoin equals the plain join on a Zipf-hot key distribution") {
    val sp = spark; import sp.implicits._
    // 90% of the big side lands on key 7 — the skew case salting exists for
    val big = Seq.tabulate(1000)(i =>
      (if (i % 10 == 0) (i % 13).toLong else 7L, i.toLong, s"row-$i"))
      .toDF("k", "v", "row_id")
    val small = Seq.tabulate(13)(i => (i.toLong, s"dim-$i")).toDF("k", "name")
    val got = JoinOps.saltedJoin(big, small, Seq("k"), "row_id", salts = 8)
      .select("k", "v", "name").as[(Long, Long, String)].collect().toSeq.sorted
    val want = big.join(small, Seq("k"))
      .select("k", "v", "name").as[(Long, Long, String)].collect().toSeq.sorted
    assert(got == want)
    // salt column never leaks
    assert(!JoinOps.saltedJoin(big, small, Seq("k"), "row_id", salts = 8)
      .columns.contains("__salt"))
    // hot key's rows really spread: >1 distinct salt for key 7
    val spread = big.select(col("k"),
        pmod(xxhash64(col("row_id")), lit(8L)).as("s"))
      .where(col("k") === 7).select(countDistinct(col("s"))).as[Long].head()
    assert(spread > 1)
  }
}

package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import scala.util.control.NonFatal

/** The query loop of `driver_queries`: every `SparkEntry.queries` entry over the committed
  * query tables, timed one at a time (closed loop) and checked against the
  * recorded per-query result hash. */
object Queries {

  lazy val all: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = graft.SparkEntry.queries

  /** Canonical text of a result value: doubles and floats by their bits,
    * nested rows, arrays and maps structurally, map entries sorted. */
  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: Float => "f" + Integer.toHexString(java.lang.Float.floatToIntBits(f))
    case b: Array[Byte] => "b" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => "t" + t.getTime + "." + t.getNanos
    case t: java.time.Instant => "t" + t.getEpochSecond + "." + t.getNano
    case bd: java.math.BigDecimal => "n" + bd.toPlainString
    case s: String => "s" + s.length + ":" + s
    case x => x.getClass.getSimpleName + ":" + x.toString
  }

  /** Order-independent result hash: SHA-256 over the sorted canonical rows. */
  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  /** Recorded results: name → (rows, hash), one `name<TAB>rows<TAB>hash` line each. */
  def load(path: String): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala
      .filter(_.nonEmpty).map(_.split('\t')).map(a => a(0) -> (a(1).toLong, a(2))).toMap
  }

  final case class Result(name: String, seconds: Double, rows: Long, hash: String, error: String) {
    def ok(expected: Map[String, (Long, String)]): Boolean =
      error.isEmpty && expected.get(name).contains((rows, hash))
  }

  /** Runs one query to completion and hashes its result. `collect` executes
    * the whole plan with every column (nothing is pruned, as with the noop
    * sink) and hands back the rows the check needs from the same execution. */
  def runOne(spark: SparkSession, dataDir: String, name: String): Result = {
    val fn = all(name)
    spark.sparkContext.setJobGroup(name, name)
    val t0 = System.nanoTime()
    val out = try Right(fn(spark, dataDir).collect()) catch { case NonFatal(e) => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.clearJobGroup()
    out match {
      case Right(rows) => Result(name, sec, rows.length.toLong, hash(rows), "")
      case Left(e) => Result(name, sec, -1L, "", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
  }

  /** The closed loop's submission order: by name. The query tables are
    * fixed, so a run's inputs do not depend on the seed; the order is fixed
    * too because the first queries of a JVM pay its JIT warm-up, and a
    * seeded order would move that cost between queries from run to run. */
  def order: Seq[String] = all.keys.toSeq.sorted
}

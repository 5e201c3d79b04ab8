package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One local SparkSession per suite: `local[cores]` with `cores` shuffle
  * partitions, UI off, UTC session time zone and ERROR logging, stopped
  * after the suite. Suites add their own confs through `extraConf`. */
trait SparkSpec extends BeforeAndAfterAll { self: Suite =>

  protected def cores: Int = 4
  protected def extraConf: Map[String, String] = Map.empty

  @transient protected var spark: SparkSession = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    spark = extraConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()
}

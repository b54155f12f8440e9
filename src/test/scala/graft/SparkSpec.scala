package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * getOrCreate dedupes). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Run `f` with the SQL conf `kv` set, then restore the prior values. */
  def withConf[A](kv: (String, String)*)(f: => A): A = {
    val before = kv.map { case (c, _) => c -> spark.conf.getOption(c) }
    kv.foreach { case (c, v) => spark.conf.set(c, v) }
    try f finally before.foreach {
      case (c, Some(v)) => spark.conf.set(c, v)
      case (c, None)    => spark.conf.unset(c)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. One JVM-wide session (getOrCreate)
  * keeps the suite fast.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // same static confs and session extensions as the engine session
      .config(GraftSession.StaticConfs)
      .withExtensions(GraftSession.extensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.installRules(s)
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** Every message on `t`'s cause chain, one per line: an executor's
    * error reaches the driver wrapped in a SparkException. */
  def causeMessages(t: Throwable): String = Iterator.iterate(t)(_.getCause)
    .takeWhile(_ != null).map(_.getMessage).mkString("\n")
}

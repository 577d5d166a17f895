package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.source.v2.ScanMetrics

/** Base for specs needing a SparkSession — one shared local session per
  * JVM (GraftSession.getOrCreate semantics), small core count to keep
  * test latency down.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("4")

  /** Run `body` with SQL confs set, restoring prior values after. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val prior = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** The one row `df` collects and the counts of its one graft_table
    * scan, read from that execution's plan.
    */
  def withScan(df: DataFrame): (Row, ScanMetrics.ScanCounts) = {
    val (Array(r), Seq(sc)) = ScanMetrics.collect(df)
    (r, sc)
  }
}

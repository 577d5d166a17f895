package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** The descriptions of the Spark jobs `body` submits, in submission
    * order, with `body` run under the job description `caller`. Listener
    * events arrive asynchronously but in order, so a marker job after
    * `body` closes the list exactly.
    */
  def jobsOf(caller: String)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val marker = "jobs: marker"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(caller)
      body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      val jobs = seen.asScala.toSeq
      assert(jobs.contains(marker), "listener never saw the marker job")
      jobs.takeWhile(_ != marker)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
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

package graft.source.v2

import org.apache.spark.sql.{DataFrame, Row, functions}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{PartitionReader, Scan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Pruning counts of graft_table scans as DSv2 custom metrics on each
  * scan's own `BatchScanExec`, so concurrent actions never share them:
  * `filesPlanned` (after static, bloom, LIMIT and runtime pruning) and
  * `filesTotal` are driver metrics; `rowsDelivered` (after parquet
  * row-group skipping) is a task metric that Spark sums.
  */
object ScanMetrics {
  val FilesPlanned = "filesPlanned"
  val FilesTotal = "filesTotal"
  val RowsDelivered = "rowsDelivered"

  sealed abstract class Sum(n: String) extends CustomSumMetric {
    override def name(): String = n
    override def description(): String = s"graft_table $n"
  }
  final class FilesPlannedMetric extends Sum(FilesPlanned)
  final class FilesTotalMetric extends Sum(FilesTotal)
  final class RowsDeliveredMetric extends Sum(RowsDelivered)

  private def value(n: String, v: Long): CustomTaskMetric =
    new CustomTaskMetric { def name(): String = n; def value(): Long = v }

  /** Spark asks for the driver metrics once the partitions are final
    * (after runtime filtering re-planned them).
    */
  private[v2] trait Reporting extends Scan {
    def res: GraftTableSource.Resolved
    def plannedFileNames: Seq[String]
    override def supportedCustomMetrics(): Array[CustomMetric] = Array(
      new FilesPlannedMetric, new FilesTotalMetric, new RowsDeliveredMetric)
    override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
      value(FilesPlanned, Option(plannedFileNames).fold(0)(_.length)),
      value(FilesTotal, res.ver.files.length))
  }

  /** Spark hands a task's next reader the previous reader's values
    * (key-grouped partitions put several files in one task).
    */
  private[v2] trait CountsRows[T] extends PartitionReader[T] {
    protected var delivered = 0L
    override def initMetricsValues(prior: Array[CustomTaskMetric]): Unit =
      prior.filter(_.name() == RowsDelivered).foreach(m => delivered = m.value())
    override def currentMetricsValues(): Array[CustomTaskMetric] =
      Array(value(RowsDelivered, delivered))
  }

  /** `manifestAgg`: an aggregate served from the manifest, no data read. */
  final case class ScanCounts(path: String, filesPlanned: Long,
    filesTotal: Long, rowsDelivered: Long, manifestAgg: Boolean)

  /** Binds the file counts: `val (n, Files(planned, total)) = ...`. */
  object Files {
    def unapply(c: ScanCounts) = Some((c.filesPlanned, c.filesTotal))
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Collects `df` and returns the rows and one [[ScanCounts]] per
    * graft_table scan of THAT execution, AQE stages and DPP subqueries
    * included. Throws when there is none: a probe never passes vacuously.
    */
  def collect(df: DataFrame): (Array[Row], Seq[ScanCounts]) = {
    // a fresh plan per call (the no-op projection is optimized away):
    // Spark posts a scan's driver metrics once per physical plan, so a
    // second action on `df`'s own plan would read zero files
    val q = df.select("*")
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan
    val scans = Plans.collectWithSubqueries(plan) {
      case b: BatchScanExec if b.scan.isInstanceOf[Reporting] =>
        def m(n: String): Long = b.metrics(n).value
        ScanCounts(b.scan.asInstanceOf[Reporting].res.path, m(FilesPlanned),
          m(FilesTotal), m(RowsDelivered), b.scan.isInstanceOf[GraftAggScan])
    }
    require(scans.nonEmpty, s"no graft_table scan in the executed plan:\n$plan")
    (rows, scans)
  }

  /** `df`'s row count as an aggregate of `df` itself (`count()` would
    * execute another plan), with its one scan.
    */
  def rowCount(df: DataFrame): (Long, ScanCounts) = {
    val (Array(r), Seq(sc)) = collect(df.agg(functions.count(functions.lit(1))))
    (r.getLong(0), sc)
  }
}

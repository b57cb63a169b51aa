package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** A read through the `graft-snapshot` source, timed in two spans:
  * `source.plan` (analysis, optimization and physical planning) and
  * `source.exec` (execution and collect). Traced cycles also record what
  * the scan nodes read.
  */
object Scans extends AdaptiveSparkPlanHelper {

  /** (distinct files planned, rows the scans produced) over `plan`. */
  def scanned(plan: SparkPlan): (Long, Long) = {
    val scans = collectWithSubqueries(plan) { case b: BatchScanExec => b }
    val files = scans.flatMap(_.inputPartitions.collect {
      case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
    }.flatten).distinct.size.toLong
    val rows = scans.map(_.metrics.get("numOutputRows").fold(0L)(_.value)).sum
    (files, rows)
  }

  /** Plan then execute `df`; attribute its scan to the live files of
    * `liveOf`, counted after the operation has returned.
    */
  def timed(run: Run, df: => DataFrame, liveOf: Seq[String]): Array[org.apache.spark.sql.Row] = {
    val q = run.call("source.plan") { _ => val d = df; d.queryExecution.executedPlan; d }
    val rows = run.call("source.exec") { _ => q.collect() }
    run.afterOp {
      val sp = run.tracer.spans.filter(_.name == "source.exec").last
      val (files, scannedRows) = scanned(q.queryExecution.executedPlan)
      sp.attrs("files_scanned") = files.toDouble
      sp.attrs("live_files") = liveOf.map(r => run.liveFiles(r).size).sum.toDouble
      sp.attrs("rows_scanned") = scannedRows.toDouble
      sp.attrs("result_rows") = rows.length.toDouble
    }
    rows
  }
}

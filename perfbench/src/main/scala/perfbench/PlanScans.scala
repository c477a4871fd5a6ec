package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Scan facts read from an executed plan, through adaptive stages. */
object PlanScans extends AdaptiveSparkPlanHelper {
  /** Files the executed plan's parquet scans opened. */
  def filesRead(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

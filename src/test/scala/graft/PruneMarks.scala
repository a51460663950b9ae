package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.scalatest.Assertions._

/** Statfilter pruning as a plan shows it: the qualifying bucket ranges
  * pushed into a parquet scan as bounds on the time column. */
object PruneMarks {

  /** PushedFilters of every file scan in the frame's physical plan. */
  def pushedFilters(df: DataFrame): Seq[String] = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .map(_.metadata.getOrElse("PushedFilters", ""))
  }

  /** Pruning engaged: some scan pushes the range [startNs, endNs). */
  def assertPrunedTo(df: DataFrame, startNs: Long, endNs: Long,
      timeCol: String = "time"): Unit = {
    val pushed = pushedFilters(df)
    assert(pushed.exists(f =>
      f.contains(s"GreaterThanOrEqual($timeCol,$startNs)")
        && f.contains(s"LessThan($timeCol,$endNs)")),
      pushed.mkString("\n"))
  }

  /** Pruning did not engage: no scan pushes any bound on the time
    * column (for queries without a `between`, the only source of one). */
  def assertUnpruned(df: DataFrame, timeCol: String = "time"): Unit = {
    val pushed = pushedFilters(df)
    assert(!pushed.exists(f => f.contains(s"GreaterThanOrEqual($timeCol,")
      || f.contains(s"LessThan($timeCol,")), pushed.mkString("\n"))
  }
}

package graft

import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec,
  FilterExec, InputAdapter, ProjectExec, SortExec, SparkPlan,
  WholeStageCodegenExec}

/** Physical-plan walkers shared by the serving-layout audits. */
object PlanShapes {

  /** The file scan directly under `p` through transparent nodes only —
    * an Exchange counts against a bucketed layout when it sits DIRECTLY
    * over the bucketed scan; a deep collect would false-positive on the
    * query-side fan-out shuffles whose subtree contains a scan. */
  @annotation.tailrec
  def scanThroughTransparent(p: SparkPlan): Option[FileSourceScanExec] =
    p match {
      case s: FileSourceScanExec => Some(s)
      case t @ (_: ProjectExec | _: FilterExec | _: SortExec |
          _: ColumnarToRowExec | _: InputAdapter | _: WholeStageCodegenExec) =>
        scanThroughTransparent(t.children.head)
      case _ => None
    }
}

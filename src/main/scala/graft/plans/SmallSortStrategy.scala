package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort in one partition: `SortExec(global) ←
  * CoalesceExec(1) ← child`, with no exchange.
  *
  * Spark's own plan for a global `Sort` is a range exchange, and a
  * `RangePartitioner` first runs a sampling job over the sort's whole
  * child, then a map stage that computes the child again, and only
  * then the result stage. On the few-hundred-row results the
  * monitoring and serving queries end in, that is two of a query's
  * jobs for no parallelism: AQE coalesces the range exchange's output
  * into one partition anyway. This strategy takes that decision
  * before the sampling instead of after it, so the sort runs inside
  * the child's last stage.
  *
  * Gate: the sort is not streaming, and Spark estimates its input at
  * most [[oneTaskBytes]] — the largest shuffle AQE's partition
  * coalescing always merges into one partition. Under AQE, replanning
  * after each stage re-applies the gate on runtime stage statistics;
  * a larger input keeps the range sort. No knob of its own: the
  * threshold is read from Spark's coalescing settings (a test pins the
  * range path by lowering `coalescePartitions.minPartitionSize`). */
object SmallSortStrategy extends SparkStrategy {

  /** AQE coalesces a shuffle of `S` bytes to a target size of
    * `max(min(S / minPartitionNum, advisoryPartitionSizeInBytes),
    * coalescePartitions.minPartitionSize)`. With Spark's default
    * `coalescePartitions.parallelismFirst=true`, `minPartitionNum` is
    * the default parallelism and one partition is guaranteed only up
    * to `minPartitionSize` (1 MB); when AQE may coalesce down to one
    * partition (`parallelismFirst=false`, or `minPartitionNum` 1) it is
    * the larger of that and the advisory size (64 MB). */
  def oneTaskBytes(conf: SQLConf): Long = {
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val keepsParallelism =
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
        .fold(conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))(_ > 1)
    if (keepsParallelism) minSize
    else minSize max conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !child.isStreaming &&
        child.stats.sizeInBytes <= oneTaskBytes(SQLConf.get) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }
}

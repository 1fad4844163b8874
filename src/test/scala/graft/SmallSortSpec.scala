package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.plans.SmallSortStrategy

/** [[SmallSortStrategy]]: a global sort whose input Spark estimates
  * within the size AQE always coalesces to one partition runs in one
  * partition — no range-sampling job, no extra shuffle — and a larger
  * one keeps the range exchange. Also the one install point: the
  * registry installs the planner extensions before every builder. */
class SmallSortSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val MinSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private val ParallelismFirst =
    "spark.sql.adaptive.coalescePartitions.parallelismFirst"

  /** Partitionings of every shuffle exchange in an executed plan,
    * query stages included (the AQE final plan after an action). */
  private def exchanges(plan: SparkPlan) =
    collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }

  private def ranges(plan: SparkPlan) =
    exchanges(plan).collect { case r: RangePartitioning => r }

  /** Rows in order, and the final plan, of one AQE execution. */
  private def run(df: DataFrame): (Seq[Row], SparkPlan) = {
    val rows = df.collect().toSeq
    (rows, df.queryExecution.executedPlan)
  }

  test("a warm v1_freshness under AQE runs in 2 jobs, with no range " +
      "exchange in its final plan") {
    val q = SparkEntry.queries("v1_freshness")
    q(spark, sf).collect() // cold: schema and artifact warm-up
    val ((rows, plan), jobs) = jobsDuring(run(q(spark, sf)))
    assert(rows.nonEmpty)
    assert(exchanges(plan).nonEmpty, s"the walk must see the stages:\n$plan")
    assert(ranges(plan).isEmpty, s"range exchange left:\n$plan")
    // the aggregate's map stage and the result stage; the range sort
    // added a sampling job and a map stage of its own
    assert(jobs == 2, s"$jobs jobs:\n$plan")
    val (_, rangeJobs) = Util.withConf(spark, MinSize, "1") {
      jobsDuring(q(spark, sf).collect())
    }
    assert(rangeJobs == 4, s"$rangeJobs jobs with the range sort")
  }

  test("an input over the one-partition size keeps the range exchange, " +
      "in the same row order") {
    val q = SparkEntry.queries("v1_freshness")
    val (small, smallPlan) = run(q(spark, sf))
    val (big, bigPlan) = Util.withConf(spark, MinSize, "1") {
      run(q(spark, sf))
    }
    assert(ranges(smallPlan).isEmpty, s"$smallPlan")
    assert(ranges(bigPlan).nonEmpty, s"range exchange expected:\n$bigPlan")
    assert(small.size > 1 && small == big,
      "order-sensitive rows must match on both paths")
    // the same choice with AQE off, from the optimizer's estimate alone
    Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      val coalesced = q(spark, sf).queryExecution.executedPlan
      assert(coalesced.collect { case c: CoalesceExec => c }.nonEmpty &&
        ranges(coalesced).isEmpty, s"$coalesced")
      val ranged = Util.withConf(spark, MinSize, "1") {
        q(spark, sf).queryExecution.executedPlan
      }
      assert(ranges(ranged).size == 1, s"$ranged")
    }
  }

  test("the gate is the size AQE always coalesces to one partition") {
    def gate(kv: (String, String)*): Long = {
      val conf = new org.apache.spark.sql.internal.SQLConf
      kv.foreach { case (k, v) => conf.setConfString(k, v) }
      SmallSortStrategy.oneTaskBytes(conf)
    }
    // Spark's defaults: 1 MB
    assert(gate() == (1L << 20))
    // parallelismFirst (Spark's default) keeps the default parallelism
    // above minPartitionSize: only a shuffle within it becomes one
    // partition, however large the advisory size
    assert(gate(ParallelismFirst -> "true", MinSize -> "1000",
      Advisory -> "64m") == 1000L)
    // without it AQE fills partitions up to the advisory size
    assert(gate(ParallelismFirst -> "false", MinSize -> "1000",
      Advisory -> "64m") == (64L << 20))
    assert(gate(ParallelismFirst -> "false", MinSize -> "1000",
      Advisory -> "10") == 1000L)
    // an explicit minimum partition count overrides parallelismFirst
    assert(gate(ParallelismFirst -> "true", MinSize -> "1000",
      Advisory -> "64m",
      "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "1") ==
      (64L << 20))
  }

  test("an empty input sorts to 0 rows through CoalesceExec(1)") {
    // a child with no partition at all: CoalesceExec(1) must still
    // hand the sort one (empty) partition. An RDD-backed frame has no
    // size estimate of its own, so its default size is lowered to
    // reach the strategy's gate.
    Util.withConf(spark, "spark.sql.defaultSizeInBytes", "1024") {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], Tables.orders(spark, sf).schema)
        .orderBy("o_orderkey")
      Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
        val plan = empty.queryExecution.executedPlan
        assert(plan.collect { case c: CoalesceExec => c }.nonEmpty, s"$plan")
        assert(plan.collectLeaves().head.execute().getNumPartitions == 0)
        assert(empty.collect().isEmpty)
      }
      assert(empty.collect().isEmpty)
    }
    // a file scan whose every row is filtered out
    val none = Tables.orders(spark, sf)
      .filter(org.apache.spark.sql.functions.col("o_orderkey") < 0)
      .orderBy("o_orderkey")
    assert(none.collect().isEmpty)
  }

  test("a streaming sort is left alone") {
    val stream = spark.readStream.format("rate").load().queryExecution.analyzed
    val batch = spark.range(3).toDF("value").queryExecution.analyzed
    def sorted(lp: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      Sort(Seq(SortOrder(lp.output.find(_.name == "value").get, Ascending)),
        global = true, lp)
    assert(stream.isStreaming)
    assert(SmallSortStrategy(sorted(stream)).isEmpty)
    assert(SmallSortStrategy(sorted(batch)).size == 1)
    // a local (per-partition) sort is never touched
    assert(SmallSortStrategy(sorted(batch).copy(global = false)).isEmpty)
  }

  test("through the registry, a fresh session plans agg_mode with " +
      "TopKPerGroupExec as its first query") {
    val fresh = spark.newSession()
    assert(fresh.experimental.extraStrategies.isEmpty)
    val plan = Util.withConf(fresh, "spark.sql.adaptive.enabled", "false") {
      SparkEntry.queries("agg_mode")(fresh, sf).queryExecution.executedPlan
    }
    assert(plan.collect { case t: graft.plans.TopKPerGroupExec => t }.nonEmpty,
      s"the registry must install the rules first:\n$plan")
  }
}

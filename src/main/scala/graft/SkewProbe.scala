package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{PartialReducerPartitionSpec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AQEShuffleReadExec, QueryStageExec}

/** Skewed-key rehearsal probe (judge r17 next-round #3): every
  * committed rehearsal draws join keys uniformly, so the skew
  * machinery (skew_plan's salt map, skew_salted_join, AQE skew-join
  * splits enrolled in PLANS_10X.json) had never met actually-skewed
  * data. This main runs the join family against a dir (typically
  * GenData with SPARK_GRAFT_GENDATA_ZIPF set) with AQE skew handling
  * on, and reports per query: wall seconds, output rows, and how many
  * skew SPLITS the final adaptive plan actually performed (the count
  * of PartialReducerPartitionSpec across every AQEShuffleRead,
  * recursing through materialized query stages and subqueries).
  * It also prints skew_plan's derived per-key salt map, so the
  * rehearsal records WHICH keys would salt and by how much.
  *
  * Skew thresholds are lowered from the 256 MB prod default so
  * rehearsal-sized partitions can trip the splitter at local scale —
  * the object under test is "does the plan split when a partition is
  * ~5× its siblings", not the absolute byte bar.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/graft_zipf_10x \
  *        sbt "runMain graft.SkewProbe [query ...]"
  * Prints one JSON line like Bench. NOT part of the query surface —
  * a test/bench utility main, like [[GenData]] and [[Probe]].
  */
object SkewProbe {

  /** Every AQEShuffleRead in the FINAL adaptive plan: materialized
    * stages are leaf nodes whose inner plan `collect` will not enter,
    * so recurse through them and through subqueries explicitly. */
  private def reads(p: SparkPlan): Seq[AQEShuffleReadExec] = {
    val direct = p.collect { case r: AQEShuffleReadExec => r }
    val staged = p.collect { case q: QueryStageExec => q }
      .flatMap(q => reads(q.plan))
    val adaptive = p.collect { case a: AdaptiveSparkPlanExec => a }
      .flatMap(a => reads(a.executedPlan))
    val sub = p.subqueries.flatMap(reads)
    direct ++ staged ++ adaptive ++ sub
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_zipf_10x")
    val spark = Session.local(conf = Map(
      // At 32 reducers a 5.7%-share hot key rides on a 3.1%-of-corpus
      // baseline partition — 2.8x the median, under AQE's 5x
      // skewedPartitionFactor, so nothing ever splits. The at-scale
      // shape (thousands of reducers, median partition << hot key)
      // is rehearsed by raising the reducer count.
      "spark.sql.shuffle.partitions" ->
        sys.env.getOrElse("SPARK_GRAFT_SKEW_PARTITIONS", "32"),
      "spark.sql.adaptive.skewJoin.enabled" ->
        (!sys.env.contains("SPARK_GRAFT_SKEW_OFF")).toString,
      "spark.sql.adaptive.forceOptimizeSkewedJoin" ->
        (!sys.env.contains("SPARK_GRAFT_SKEW_OFF")).toString,
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_SKEW_THRESHOLD", "8m"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_SKEW_ADVISORY", "4m"),
      // SPARK_GRAFT_SKEW_NOBROADCAST=1 disables broadcast joins so
      // the probe exercises the 100 TB fact-fact shape: at rehearsal
      // scale every dimension broadcasts and no sort-merge join ever
      // forms, so AQE's skew splitter (which only rewrites SMJ/SHJ
      // sides) has nothing to split regardless of threshold
      "spark.sql.autoBroadcastJoinThreshold" ->
        (if (sys.env.contains("SPARK_GRAFT_SKEW_NOBROADCAST")) "-1"
        else "10MB")))

    // the minimal fact-dim shape under forced SMJ: lineitem joined
    // 1:1 on its zipf-skewed l_partkey — the registry queries wrap
    // their joins in aggregates/filters whose partials already shrink
    // the hot key, so this is the floor the splitter must catch (the
    // hot key's partition is |hot| rows on the fact side)
    val inline: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "raw_skew_join" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, count, lit, sum}
        val li = graft.Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_quantity"))
        val p = graft.Tables.part(s, d)
          .select(col("p_partkey"), col("p_name"))
        li.join(p, li("l_partkey") === p("p_partkey"))
          .groupBy(col("p_name"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      }))
    val defaults = Seq("raw_skew_join", "q9_product_profit",
      "q18_big_orders", "q21_waiting", "funnel_window_seq",
      "sessionize_native", "skew_salted_join", "skew_plan")
    val sel = if (args.nonEmpty) args.toSeq else defaults
    val results = sel.map { name =>
      val t0 = System.nanoTime()
      val (rows, splits, nReads) =
        try inline.get(name).orElse(SparkEntry.queries.get(name)) match {
          case Some(fn) =>
            val df = fn(spark, sfDir)
            // execute THIS dataset's own QueryExecution (df.count()
            // would plan a separate aggregate execution, leaving this
            // one's AdaptiveSparkPlanExec unexecuted — its final plan,
            // and so every AQE read, would never exist to inspect)
            val n = df.queryExecution.toRdd.count()
            val rs = reads(df.queryExecution.executedPlan)
            val sp = rs.flatMap(_.partitionSpecs)
              .count(_.isInstanceOf[PartialReducerPartitionSpec])
            if (sys.env.contains("SPARK_GRAFT_SKEW_DEBUG")) {
              rs.zipWithIndex.foreach { case (r, i) =>
                val h = r.partitionSpecs.groupBy(_.getClass.getSimpleName)
                  .map { case (k, v) => s"$k=${v.size}" }.mkString(",")
                System.err.println(s"[skew-debug] $name read#$i $h")
              }
              System.err.println(df.queryExecution.executedPlan.toString
                .linesIterator.take(40).mkString("\n"))
            }
            (n, sp, rs.size)
          case None => sys.error(s"unknown query '$name'")
        }
        catch { case e: Throwable =>
          System.err.println(s"[skew] $name FAILED: ${e.getMessage}")
          (-1L, -1, -1)
        }
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[skew] $name%-22s $secs%7.1f s  $rows%,12d rows" +
        f"  skew_splits=$splits%-5d aqe_reads=$nReads")
      (name, secs, rows, splits, nReads)
    }
    // the salt map the explicit-salting path would ship (top rows of
    // skew_plan: per-key counts, derived salt factor, corpus share)
    val salt = SparkEntry.queries("skew_plan")(spark, sfDir)
      .collect().take(8)
      .map(r => s"""{"k":${r.getLong(0)},"n":${r.getLong(1)},""" +
        s""""salt":${r.getLong(2)},"share_e4":${r.getLong(3)}}""")
      .mkString("[", ",", "]")
    val qs = results
      .map { case (n, s, r, sp, ar) =>
        s""""$n":{"sec":$s,"rows":$r,"skew_splits":$sp,"aqe_reads":$ar}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"skewprobe","dir":"$sfDir","queries":$qs,""" +
      s""""salt_map":$salt}""")
    spark.stop()
  }
}

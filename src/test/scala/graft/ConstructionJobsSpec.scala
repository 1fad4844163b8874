package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** DataFrame construction of the read-only queries launches no
  * Spark job: config lookups serve from the store snapshot, parquet
  * reads carry a memoised schema instead of a footer-inference job,
  * `acl_audit` scans the corpus once, and the retrieval queries take
  * their fixed query sets and index statistics as literals. */
class ConstructionJobsSpec extends SparkSuite {

  test("read-only queries construct their DataFrame without a Spark job") {
    val queries = Seq("acl_audit", "acl_row_filter", "config_dynamic_key",
      "v1_freshness", "t_unigram_logprob")
    val jobs = queries.map { q =>
      // the first call may build session artifacts and IN-lists
      SparkEntry.queries(q)(spark, sf)
      q -> jobsDuring(SparkEntry.queries(q)(spark, sf))._2
    }
    assert(jobs.forall(_._2 == 0),
      "construction jobs per query: " + jobs.mkString(", "))
    // the counter is live: an action in the window is seen
    assert(jobsDuring(Tables.documents(spark, sf).count())._2 > 0)
  }

  test("a repeated Tables.parquet read plans without a Spark job") {
    val path = s"$sf/documents.parquet"
    val first = Tables.parquet(spark, path)
    val (again, jobs) = jobsDuring(Tables.parquet(spark, path))
    assert(jobs == 0, s"$jobs job(s) for a memoised-schema read")
    assert(again.schema == first.schema)
    assert(again.schema == spark.read.parquet(path).schema,
      "the declared schema is Spark's own inferred schema")
  }

  test("acl_audit plans one documents scan and no config-store scan") {
    val plan = Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      graft.ops.Acl.aclAudit(spark, sf).queryExecution.executedPlan
    }
    val scans = plan.collectWithSubqueries { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.count(_.endsWith("documents.parquet")) == 1,
      s"exactly one corpus scan expected: $scans\n$plan")
    assert(!scans.exists(_.contains("graft_config")),
      s"policy comes from the store snapshot, not a scan: $scans")
  }

  private val retrieval = Seq("t_bm25_topk", "rag_fusion_rrf", "ann_ivf_topk")

  test("retrieval queries read their snapshots once: a warm call " +
      "constructs without a Spark job") {
    // the IVF queries also probe from the centroid snapshot and the
    // memoised query vectors, not per-call collects
    val ivf = Seq("rag_fusion_ivf", "rag_context_pack_ivf", "ann_index_persist")
    val jobs = (retrieval ++ ivf).map { q =>
      SparkEntry.queries(q)(spark, sf).collect()
      q -> jobsDuring(SparkEntry.queries(q)(spark, sf))._2
    }
    assert(jobs.forall(_._2 == 0),
      "construction jobs per query: " + jobs.mkString(", "))
  }

  /** Broadcasts of a driver-side local relation and nested-loop joins
    * in the plan, AQE off — each such broadcast is a job of its own. */
  private def literalSides(plan: SparkPlan): Seq[String] =
    plan.collect {
      case b: BroadcastExchangeExec
          if b.child.exists(_.isInstanceOf[LocalTableScanExec]) =>
        "BroadcastExchange over a LocalTableScan"
      case j: BroadcastNestedLoopJoinExec => s"BroadcastNestedLoopJoin ${j.joinType}"
    }

  test("retrieval plans broadcast no local relation and nest no loop join") {
    Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      retrieval.foreach { q =>
        val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        assert(plan.collect { case s: FileSourceScanExec => s }.nonEmpty,
          s"$q: the walk must see the real plan, not an AQE leaf")
        assert(literalSides(plan).isEmpty,
          s"$q: ${literalSides(plan).mkString(", ")}\n$plan")
      }
      // the check sees the shape it bans
      import spark.implicits._
      val banned = Tables.documents(spark, sf)
        .join(org.apache.spark.sql.functions.broadcast(
          Seq((1L, "a")).toDF("doc_id", "tag")), "doc_id")
        .crossJoin(org.apache.spark.sql.functions.broadcast(
          Tables.documents(spark, sf).groupBy().count()))
      assert(literalSides(banned.queryExecution.executedPlan).size == 2)
    }
  }

  test("a warm lexical retrieval call runs in at most 3 (t_bm25_topk) " +
      "and 6 (rag_fusion_rrf) jobs with AQE on") {
    // each leg reads the postings once: BM25 is its aggregate, its
    // window and the result stage; the fusion adds QL's two and the
    // dense leg's
    val jobs = Util.withConf(spark, "spark.sql.adaptive.enabled", "true") {
      Seq("t_bm25_topk" -> 3, "rag_fusion_rrf" -> 6).map { case (q, max) =>
        SparkEntry.queries(q)(spark, sf).collect()
        (q, jobsDuring(SparkEntry.queries(q)(spark, sf).collect())._2, max)
      }
    }
    assert(jobs.forall { case (_, n, max) => n <= max },
      "(query, jobs, limit) per warm call: " + jobs.mkString(", "))
  }

  /** Scans of the lexical postings (`tf`) that a broadcast reads in
    * its own stage — a broadcast of an aggregate computed behind a
    * shuffle reads the postings in that shuffle's stage instead. */
  private def broadcastPostings(plan: SparkPlan): Seq[SparkPlan] = {
    def ownStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: ShuffleExchangeExec => Nil
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "tf") => Seq(s)
      case other => other.children.flatMap(ownStage)
    }
    plan.collect { case b: BroadcastExchangeExec => ownStage(b.child) }.flatten
  }

  test("the lexical legs broadcast no postings scan and read no doc_stats") {
    val legs = Seq("t_bm25_topk", "rag_fusion_rrf", "rag_fusion_ivf",
      "rag_context_pack", "rag_context_pack_ivf", "rag_eval_recall")
    Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      legs.foreach { q =>
        val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        val scans = plan.collect { case s: FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.getName)
        }.flatten
        assert(scans.contains("tf"),
          s"$q: the walk must see the real plan, not an AQE leaf")
        assert(!scans.contains("doc_stats"), s"$q scans doc_stats:\n$plan")
        assert(broadcastPostings(plan).isEmpty,
          s"$q broadcasts a postings scan:\n$plan")
      }
      // the check sees the shape it bans: the former QL leg's LEFT join
      // of the candidates back onto the postings
      val tf = graft.ops.Text.termFreqs(spark, sf)
      val banned = tf.select(org.apache.spark.sql.functions.col("doc_id"))
        .join(org.apache.spark.sql.functions.broadcast(tf), Seq("doc_id"), "left")
      assert(broadcastPostings(banned.queryExecution.executedPlan).size == 1)
    }
  }

  test("the IVF and PQ probes take the fixed query vectors as literals") {
    // before: a scan of the query rows broadcast onto the corpus — a
    // Cross join for the IVF probe, an inner join for the re-ranks
    Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      Seq("ann_index_persist", "ann_pq_recall_gate",
          "ann_ivfpq_recall_gate").foreach { q =>
        val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        val queryScans = plan.collect {
          case b: BroadcastExchangeExec => b.collect {
            case s: FileSourceScanExec if s.metadata.get("PushedFilters")
                .exists(_.contains("In(vec_id")) => s
          }
        }.flatten
        val cross = plan.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec
              if j.joinType == org.apache.spark.sql.catalyst.plans.Cross => j
        }
        assert(queryScans.isEmpty && cross.isEmpty,
          s"$q broadcasts a query-vector scan:\n$plan")
      }
    }
  }
}

package graft

/** Component-timing probe behind OPTIMIZATION_r18.md: decomposes the
  * bench's heaviest query families into their stage artifacts and
  * times each stage separately (cold = first materialization of the
  * per-session artifact, warm = steady-state re-read), so optimization
  * effort lands on the stage that actually owns the wall-clock.
  *
  * NOT part of the query surface — a measurement utility main, like
  * [[Probe]] / [[RagScaleProbe]] / [[SkewProbe]].
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.OptProbe <sfDir> [family ...]"
  *   families: rag graph ann corpus (default: all)
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val fams = if (args.length > 1) args.tail.toSet
      else Set("rag", "graph", "ann", "corpus")
    val spark = Session.local()
    def t(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[opt] $label%-36s $s%8.3f s  $rows%,d rows")
    }
    def t2(label: String)(body: => Long): Unit = {
      t(s"$label (cold)")(body); t(s"$label (warm)")(body)
    }

    // planning-vs-execution split: force analysis+optimization+physical
    // planning without running a job, then time the action separately
    def plan(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val frame = df
      val t0 = System.nanoTime()
      frame.queryExecution.executedPlan
      val tPlan = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val rows = frame.count()
      val tRun = (System.nanoTime() - t1) / 1e9
      println(f"[opt] $label%-36s plan $tPlan%7.3f s  run $tRun%7.3f s  $rows%,d rows")
    }

    if (fams("rag")) {
      println("== rag ==")
      t2("termFreqs")(ops.Text.termFreqs(spark, sfDir).count())
      plan("bm25Topk p/r")(ops.Text.bm25Topk(spark, sfDir))
      plan("bm25Topk p/r 2")(ops.Text.bm25Topk(spark, sfDir))
      plan("qlTopk p/r")(ops.Text.qlTopk(spark, sfDir))
      plan("ragFusionRrf p/r")(ops.Text.ragFusionRrf(spark, sfDir))
      plan("ragFusionRrf p/r 2")(ops.Text.ragFusionRrf(spark, sfDir))
      t2("bm25Topk")(ops.Text.bm25Topk(spark, sfDir).count())
      t2("qlTopk")(ops.Text.qlTopk(spark, sfDir).count())
      t2("denseTopk (brute)")(ops.Text.denseTopk(spark, sfDir).count())
      t2("denseIvfTopk")(ops.Text.denseIvfTopk(spark, sfDir).count())
      t2("rag_fusion_rrf (full)")(
        ops.Text.ragFusionRrf(spark, sfDir).count())
      t2("rag_context_pack (full)")(
        ops.Text.ragContextPack(spark, sfDir).count())
    }

    if (fams("graph")) {
      println("== graph ==")
      t2("graph_pagerank (full)")(
        ops.Relational.graphPagerank(spark, sfDir).count())
      t2("graph_triangles (full)")(
        ops.Relational.graphTriangles(spark, sfDir).count())
    }

    // the graph queries return COLLECTED top-20 local frames (their
    // scaladoc'd persist-leak contract), so `graft.Explain` shows a
    // LocalTableScan — this prints the INNER iteration/counting plans
    // the optimization actually changed, for plans/r18/.
    if (fams("graphplan")) {
      import org.apache.spark.sql.functions.{col, lit, count}
      val edges = ops.Relational.graphRawEdges(spark, sfDir)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val edgesDeg = edges.join(deg, "src")
      val nodes = edgesDeg.select(col("src").as("node"))
        .union(edgesDeg.select(col("dst").as("node"))).distinct()
      val ranks = nodes.withColumn("r", lit(50000L))
      println("===== pagerank one iteration (contribs + teleport) =====")
      ops.Relational.pagerankContribs(nodes, edgesDeg, ranks,
        n = 20000L, bcastMax = 4000000L)
        .select(col("node"), (lit(7500L) + col("in_r")).as("r"))
        .explain("formatted")
      val und = edges.filter(col("dst") =!= col("src"))
        .select(org.apache.spark.sql.functions.least(col("src"), col("dst"))
          .as("u"),
          org.apache.spark.sql.functions.greatest(col("src"), col("dst"))
            .as("v")).distinct()
      println("===== triangles counting kernel (broadcast path) =====")
      ops.Relational.triangleCounts(und, nEdges = 5L, bcastMax = 4000000L)
        .explain("formatted")

      // the r17 shapes, replayed verbatim for the before-plans
      // (Relational.scala @ r17: contribs + nodes LEFT JOIN broadcast;
      // two differently-projected adjacency broadcasts)
      import org.apache.spark.sql.functions.{broadcast, expr, sum, coalesce,
        sort_array, collect_list, array_intersect, typedLit, explode, concat,
        array_repeat, size => asize}
      println("===== r17 pagerank one iteration (before) =====")
      val contribs17 = edgesDeg
        .join(broadcast(ranks.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"),
          expr("(r * 85) div (100 * deg)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_r"))
      nodes.join(broadcast(contribs17), Seq("node"), "left")
        .select(col("node"),
          (lit(7500L) + coalesce(col("in_r"), lit(0L))).as("r"))
        .explain("formatted")
      println("===== r17 triangles counting kernel (before) =====")
      val adj17 = und.groupBy(col("u"))
        .agg(sort_array(collect_list(col("v"))).as("nb"))
      val emptyNb = typedLit(Array.empty[Long])
      und
        .join(broadcast(adj17.select(col("u"), col("nb").as("nu"))), Seq("u"))
        .join(broadcast(adj17.select(col("u").as("v"), col("nb").as("nv"))),
          Seq("v"), "left")
        .select(col("u"), col("v"),
          array_intersect(col("nu"), coalesce(col("nv"), emptyNb)).as("ws"))
        .select(explode(concat(
          array_repeat(col("u"), asize(col("ws"))),
          array_repeat(col("v"), asize(col("ws"))),
          col("ws"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
        .explain("formatted")
    }

    if (fams("ann")) {
      println("== ann serve ==")
      t("persistIndexDir (build)") {
        ops.Vector.persistIndexDir(spark, sfDir); 0L }
      t2("serveBatchTopk")(ops.Vector.serveBatchTopk(spark, sfDir).count())
      t2("serveBruteTopk")(ops.Vector.serveBruteTopk(spark, sfDir).count())
      t2("stream_ann_query (full)")(
        ops.Vector.streamAnnQuery(spark, sfDir).count())
      t2("stream_ann_query_pq (full)")(
        ops.Vector.streamAnnQueryPq(spark, sfDir).count())
    }

    if (fams("corpus")) {
      println("== corpus pipelines ==")
      t2("verdictArtifact")(ops.Text.verdictArtifact(spark, sfDir).count())
      t2("minhashLsh")(ops.Dedup.minhashLsh(spark, sfDir).count())
      t2("decontam")(ops.Text.decontam(spark, sfDir).count())
      t2("corpus_build_pipeline (full)")(
        ops.Text.corpusBuildPipeline(spark, sfDir).count())
      t2("corpus_append_pipeline (full)")(
        ops.Text.corpusAppendPipeline(spark, sfDir).count())
    }
    spark.stop()
  }
}

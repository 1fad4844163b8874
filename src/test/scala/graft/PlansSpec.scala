package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.plans.Plans

/** RangeJoinBinning rule: exact-semantics rewrite of range joins into
  * binned equi-joins, plus the SparkSessionExtensions install point. */
class PlansSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  /** points × intervals with nasty rows: null points, null bounds,
    * inverted intervals, bounds exactly on bin edges. */
  private def fixtures() = {
    import spark.implicits._
    val points = Seq(
      (1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:59:59")),
      (3L, ts("2024-01-01 01:00:00")), (4L, ts("2024-01-01 06:30:00")),
      (5L, ts("2024-01-02 23:00:00")), (6L, null.asInstanceOf[Timestamp]),
      (7L, ts("2024-01-03 12:00:00"))
    ).toDF("pid", "pt")
    val intervals = Seq(
      (10L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00")),
      (11L, ts("2024-01-01 00:30:00"), ts("2024-01-01 08:00:00")),
      (12L, ts("2024-01-02 22:00:00"), ts("2024-01-02 22:30:00")),
      (13L, ts("2024-01-03 00:00:00"), ts("2024-01-02 00:00:00")), // inverted
      (14L, null.asInstanceOf[Timestamp], ts("2024-01-03 00:00:00")), // null lo
      (15L, ts("2024-01-02 20:00:00"), ts("2024-01-03 23:59:59"))
    ).toDF("iid", "lo", "hi")
    (points, intervals)
  }

  test("binned range join matches the nested-loop result exactly") {
    Plans.install(spark)
    val (points, intervals) = fixtures()
    val cond = col("pt") >= col("lo") && col("pt") < col("hi")
    val got = points.join(intervals, cond)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth computed without the rule: same condition evaluated
    // per pair on the driver
    val ps = points.collect().map(r => (r.getLong(0), Option(r.getTimestamp(1))))
    val ivs = intervals.collect().map(r =>
      (r.getLong(0), Option(r.getTimestamp(1)), Option(r.getTimestamp(2))))
    val want = (for {
      (pid, Some(p)) <- ps
      (iid, Some(lo), Some(hi)) <- ivs
      if !p.before(lo) && p.before(hi)
    } yield (pid, iid)).toSet
    assert(got == want, s"got $got want $want")
    assert(want.nonEmpty && want.contains((1L, 10L)) && !want.contains((3L, 10L)))
  }

  test("rule turns the nested-loop join into a hash join on bins") {
    Plans.install(spark)
    val (points, intervals) = fixtures()
    val joined = points.join(intervals,
      col("pt") >= col("lo") && col("pt") < col("hi"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"range join should be binned into an equi join:\n$plan")
    assert(plan.contains("graft_bin"), s"bin key missing:\n$plan")
  }

  test("backfill plan's interval join is binned (third consumer)") {
    val df = graft.ops.Flow.d4BackfillPlan(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"event-in-interval sizing join must be binned:\n${plan.take(1500)}")
    assert(plan.contains("graft_bin"), "rule fired for the third consumer")
    // interval algebra: runs tile the window — every adjacent pair
    // abuts (this run's end = next run's start) and counts sum to the
    // events inside the window
    val rows = df.collect()
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[String]("interval_end") ==
          b.getAs[String]("interval_start"), "runs must tile the window")
      case _ =>
    }
    val total = rows.map(_.getAs[Long]("n_events")).sum
    val expect = Tables.events(spark, sf)
      .filter(col("ts") >= org.apache.spark.sql.functions.lit("2024-01-01")
        .cast("timestamp") &&
        col("ts") < org.apache.spark.sql.functions.lit("2024-02-01")
          .cast("timestamp")).count()
    assert(total == expect, s"interval counts must cover the window: $total vs $expect")
  }

  test("session concurrency is binned (no nested loop) and counts exactly") {
    Plans.install(spark)
    val df = Plans.sessionConcurrency(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"hour-tick-in-session join must be binned:\n${plan.take(1500)}")
    assert(plan.contains("graft_bin"), "rule fired for the second consumer")
    // ground truth: per-hour distinct active users from collected sessions
    val sess = Tables.events(spark, sf)
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.session_window(col("ts"), "30 minutes"))
      .count()
      .select(col("user_id"), col("session_window.start").as("lo"),
        col("session_window.end").as("hi")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("lo"),
        r.getAs[java.sql.Timestamp]("hi")))
    val hours = Tables.events(spark, sf)
      .select(date_trunc("hour", col("ts")).as("h")).distinct().collect()
      .map(_.getAs[java.sql.Timestamp]("h"))
    val want = hours.map { h =>
      h -> sess.filter { case (_, lo, hi) =>
        !h.before(lo) && h.before(hi) }.map(_._1).distinct.length
    }.filter(_._2 > 0).toMap
    val got = df.collect().map(r =>
      r.getAs[String]("hour") -> r.getAs[Long]("n_active").toInt).toMap
    val wantFmt = want.map { case (h, n) =>
      new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss") {
        setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      }.format(h) -> n
    }
    assert(got == wantFmt, s"sizes: got ${got.size} want ${wantFmt.size}")
  }

  test("rule leaves equi joins and non-inner joins alone") {
    Plans.install(spark)
    val (points, intervals) = fixtures()
    // equi conjunct present → normal hash join path, no bin column
    val equi = points.join(intervals,
      col("pid") === col("iid") && col("pt") >= col("lo"))
    assert(!equi.queryExecution.optimizedPlan.toString.contains("graft_bin"))
    // left join with range condition → untouched (rule is Inner-only)
    val lj = points.join(intervals,
      col("pt") >= col("lo") && col("pt") < col("hi"), "left")
    assert(!lj.queryExecution.optimizedPlan.toString.contains("graft_bin"))
    assert(lj.count() >= points.count())
  }

  test("binned range join works on integral domains too") {
    Plans.install(spark)
    import spark.implicits._
    val pts = (0L until 200L).map(i => (i, i * 37L % 1000L)).toDF("pid", "x")
    val ivs = Seq((1L, 0L, 100L), (2L, 50L, 60L), (3L, 900L, 10000L))
      .toDF("iid", "lo", "hi")
    val got = pts.join(ivs, col("x") >= col("lo") && col("x") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (pid, x) <- (0L until 200L).map(i => (i, i * 37L % 1000L))
      (iid, lo, hi) <- Seq((1L, 0L, 100L), (2L, 50L, 60L), (3L, 900L, 10000L))
      if x >= lo && x <= hi
    } yield (pid, iid)).toSet
    assert(got == want)
  }

  test("range_join_binned query matches a rule-free run") {
    val withRule = Plans.rangeJoinBinned(spark, sf).collect().toSeq
    // same logical query, no install, evaluated via the BNLJ plan on a
    // session clone without the extra optimization
    val clean = spark.newSession()
    val noRule = Plans.rangeJoinBinned(clean, sf)
    clean.experimental.extraOptimizations = Nil
    assert(noRule.collect().toSeq == withRule)
    assert(withRule.nonEmpty)
  }

  test("GraftExtensions wires rule + dot_f32 into a session built from config") {
    import org.apache.spark.sql.SparkSession
    // builder.create() gives a NEW session on the shared SparkContext,
    // with the extensions applied — the spark.sql.extensions path.
    val s2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions()).create()
    try {
      val d = s2.sql(
        """SELECT dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                          array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""")
        .collect()(0).getDouble(0)
      assert(d == 11.0)
      import s2.implicits._
      val pts = Seq((1L, 5L), (2L, 50L)).toDF("pid", "x")
      val ivs = Seq((1L, 0L, 10L)).toDF("iid", "lo", "hi")
      val j = pts.join(ivs, col("x") >= col("lo") && col("x") <= col("hi"))
      assert(j.queryExecution.optimizedPlan.toString.contains("graft_bin"),
        "injected optimizer rule should fire without Plans.install")
      assert(j.collect().map(_.getLong(0)).toSeq == Seq(1L))
    } finally {
      // do NOT s2.stop() — that stops the shared SparkContext.
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("pagerank rank join broadcasts below the node bound, shuffles above") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    val edgesDeg = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 2L),
      (3L, 2L, 2L)).toDF("src", "dst", "deg")
    val ranks = Seq((1L, 100L), (2L, 100L), (3L, 100L)).toDF("node", "r")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    // AQE off so executedPlan is inspectable (see verify-skill gotcha);
    // auto-broadcast off so the observed broadcast can only come from
    // the size-conditional hint under test.
    graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      graft.Util.withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
        def joins(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.executedPlan.collect {
            case _: BroadcastHashJoinExec => "broadcast"
            case _: ShuffledHashJoinExec => "shuffle"
            case _: SortMergeJoinExec => "shuffle"
          }
        val below = ops.Relational.pagerankContribs(nodes, edgesDeg, ranks,
          n = 3L, bcastMax = 4000000L)
        val above = ops.Relational.pagerankContribs(nodes, edgesDeg, ranks,
          n = 3L, bcastMax = 2L)
        assert(joins(below) == Seq("broadcast"), s"below: ${joins(below)}")
        assert(joins(above) == Seq("shuffle"), s"above: ${joins(above)}")
        // both physical shapes compute the same exact integer ranks
        def vals(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(vals(below) == vals(above) && vals(below).nonEmpty)
      }
    }
  }

  test("triangles: broadcast intersect below the edge bound, wedge join above") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    // K4 minus one edge, oriented by (degree, id): triangles (1,2,3)
    // and (1,2,4) share edge 1->2; node 3-4 edge absent.
    val o = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
      .toDF("u", "v")
    graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      graft.Util.withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
        def joins(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.executedPlan.collect {
            case _: BroadcastHashJoinExec => "broadcast"
            case _: ShuffledHashJoinExec => "shuffle"
            case _: SortMergeJoinExec => "shuffle"
          }
        val below = ops.Relational.triangleCounts(o, nEdges = 5L,
          bcastMax = 4000000L)
        val above = ops.Relational.triangleCounts(o, nEdges = 5L,
          bcastMax = 2L)
        assert(joins(below).nonEmpty && joins(below).forall(_ == "broadcast"),
          s"below: ${joins(below)}")
        assert(joins(above).nonEmpty && joins(above).forall(_ == "shuffle"),
          s"above: ${joins(above)}")
        // r18: both adjacency probes broadcast the SAME subtree, so the
        // planner must BUILD the adjacency broadcast once and reuse it
        // (one BroadcastExchangeExec + one ReusedExchangeExec), not
        // aggregate + broadcast twice
        import org.apache.spark.sql.execution.exchange.{
          BroadcastExchangeExec, ReusedExchangeExec}
        val bx = below.queryExecution.executedPlan.collect {
          case b: BroadcastExchangeExec => b }
        val rx = below.queryExecution.executedPlan.collect {
          case r: ReusedExchangeExec => r }
        assert(bx.size == 1 && rx.size == 1,
          s"adjacency broadcast not reused: ${bx.size} builds, ${rx.size} reuses")
        // both physical shapes emit identical per-node participation
        def vals(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = Set((1L, 2L), (2L, 2L), (3L, 1L), (4L, 1L))
        assert(vals(below) == want, s"below: ${vals(below)}")
        assert(vals(above) == want, s"above: ${vals(above)}")
      }
    }
  }

  test("corpus_shuffle: one hash exchange; the only range sort is presentation") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
      RangePartitioning}
    graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      def exchanges = ops.Text.corpusShuffle(spark, sf)
        .queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      // the WORK exchange hashes on (epoch, shard); per-shard order is a
      // LOCAL sort under the window. The presentation ORDER BY of this
      // small result sorts in one partition (SmallSortStrategy).
      val ex = exchanges
      assert(ex.size == 1 && ex.head.isInstanceOf[HashPartitioning],
        s"exchanges: $ex")
      assert(ex.head.asInstanceOf[HashPartitioning].expressions
          .map(_.sql.toLowerCase).exists(_.contains("epoch")),
        s"work exchange must key on epoch/shard: ${ex.head}")
      // past the one-partition size the presentation sort is a range
      // exchange again — at scale the shard writer replaces it
      val big = graft.Util.withConf(spark,
          "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1") {
        exchanges
      }
      val hashes = big.collect { case h: HashPartitioning => h }
      val ranges = big.collect { case r: RangePartitioning => r }
      assert(hashes.size == 1 && ranges.size == 1 && big.size == 2,
        s"exchanges: $big")
    }
  }

  test("GroupTopK plans partial -> exchange -> final; result exact") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      val df = graft.plans.Plans.topkGroupedExec(spark, sf)
      val plan = df.queryExecution.executedPlan
      val nodes = plan.collect { case t: graft.plans.TopKPerGroupExec => t }
      assert(nodes.map(_.partial).sorted == Seq(false, true),
        s"one partial + one final operator:\n$plan")
      // the exchange must sit BETWEEN them: the final node's subtree
      // contains an exchange whose subtree contains the partial node —
      // i.e. only partial-stage survivors ever cross the wire
      val fin = nodes.find(!_.partial).get
      val ex = fin.collectFirst { case e: ShuffleExchangeExec => e }
      assert(ex.nonEmpty, s"exchange below the final top-k:\n$plan")
      assert(ex.get.collectFirst {
        case t: graft.plans.TopKPerGroupExec if t.partial => t }.nonEmpty,
        s"partial top-k below the exchange:\n$plan")
      // and the operator answers exactly the window-sort question
      val got = df.collect().map(r => (r.getString(0), r.getAs[Long]("rank"),
        r.getAs[Long]("o_orderkey"), r.getAs[Long]("price_cents"))).toSeq
      val want = ops.Relational.topkGroupedHeap(spark, sf).collect()
        .map(r => (r.getString(0), r.getAs[Long]("rank"),
          r.getAs[Long]("o_orderkey"), r.getAs[Long]("price_cents"))).toSeq
      assert(got == want)
    }
  }

  test("rank-filter rewrite: window_rank plans through GroupTopK, result exact") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      val df = ops.Relational.windowRank(spark, sf)
      val plan = df.queryExecution.executedPlan
      val nodes = plan.collect { case t: graft.plans.TopKPerGroupExec => t }
      // prune-only form: ONE flush-capped partial heap below the
      // window's own exchange, no final phase (the window's spillable
      // sort restores exact ranks over survivors at any cardinality)
      assert(nodes.map(_.partial) == Seq(true),
        s"rewrite must plan exactly the partial prune:\n$plan")
      assert(nodes.forall(_.k == 1), "rn = 1 filter must bound k at 1")
      // the window's exchange must sit ABOVE the prune: only
      // partial-stage survivors cross the wire
      val win = plan.collectFirst {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }.get
      val ex = win.collectFirst { case e: ShuffleExchangeExec => e }
      assert(ex.nonEmpty && ex.get.collectFirst {
        case t: graft.plans.TopKPerGroupExec if t.partial => t }.nonEmpty,
        s"exchange must sit between the prune and the window:\n$plan")
      // and sortless on the map side: no Sort below the exchange (the
      // WindowGroupLimit path this replaces sorts every input
      // partition; the window's sort above sees only survivors)
      assert(ex.get.collectFirst {
        case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
        s"heap partial pass must not sort the input:\n$plan")
      // equality against the un-rewritten window plan
      val saved = spark.experimental.extraOptimizations
      val want =
        try {
          spark.experimental.extraOptimizations =
            saved.filterNot(_ == graft.plans.RankFilterToGroupTopK)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("o_custkey"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          Tables.orders(spark, sf).withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
            .toSet
        } finally spark.experimental.extraOptimizations = saved
      val got = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, "rewritten plan must answer the window question")
    }
  }

  test("rank-filter rewrite leaves rank()/unpartitioned/big-k windows alone") {
    graft.plans.Plans.install(spark)
    def hasTopK(df: org.apache.spark.sql.DataFrame): Boolean =
      graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
        df.queryExecution.executedPlan.collectFirst {
          case t: graft.plans.TopKPerGroupExec => t }.nonEmpty
      }
    val base = Tables.orders(spark, sf)
    // rank(): boundary ties keep ALL tied rows — a k-heap cannot
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice").desc)
    assert(!hasTopK(base.withColumn("r", rank().over(wr))
      .filter(col("r") <= 5)))
    // k beyond the heap-domain cap stays on the sort-based path
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    assert(!hasTopK(base.withColumn("r", row_number().over(wt))
      .filter(col("r") <= graft.plans.RankFilterToGroupTopK.MaxK + 1)))
    // and the in-domain row_number shape DOES rewrite (guards above
    // are non-vacuous)
    assert(hasTopK(base.withColumn("r", row_number().over(wt))
      .filter(col("r") <= 5)))
    // conjunctive filters rewrite too (the rank bound prunes; the kept
    // Filter re-applies the other predicate over the window output) —
    // and the result equals the un-pruned evaluation
    val conj = base.withColumn("r", row_number().over(wt))
      .filter(col("r") <= 5 && col("o_orderstatus") === "F")
    assert(hasTopK(conj), "AND-filter with a rank bound must rewrite")
    val saved = spark.experimental.extraOptimizations
    val want =
      try {
        spark.experimental.extraOptimizations =
          saved.filterNot(_ == graft.plans.RankFilterToGroupTopK)
        base.withColumn("r", row_number().over(wt))
          .filter(col("r") <= 5 && col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("r")).collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
      } finally spark.experimental.extraOptimizations = saved
    val got = conj.select(col("o_orderkey"), col("r")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == want, "conjunctive rewrite must preserve the answer")
  }

  test("prune-only partial flushes past the group cap and stays exact") {
    // one task sees FlushGroups + 5000 distinct groups (coalesce(1)),
    // so the flush path genuinely runs; each group has rows v = g and
    // v = g + n, so exact top-1 per group is v = g — any row lost
    // across a flush boundary or a duplicate surviving the window
    // breaks the counts
    graft.plans.Plans.install(spark)
    graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      val n = graft.plans.TopKPerGroupExec.FlushGroups + 5000
      val df = spark.range(2L * n)
        .select((col("id") % n).as("g"), col("id").as("v"))
        .coalesce(1)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v"))
      val out = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("g"), col("v"))
      assert(out.queryExecution.executedPlan.collectFirst {
        case t: graft.plans.TopKPerGroupExec => t }.nonEmpty,
        "guard: the rewrite must fire on this plan")
      assert(out.count() == n, "exactly one survivor per group")
      assert(out.filter(col("g") =!= col("v")).count() == 0,
        "each group's survivor must be its true minimum")
    }
  }

  test("partial pass flushes on the retained-ROW budget when k is large") {
    // r10 advice (medium): the group cap alone let task state grow to
    // FlushGroups·(k+1) rows at large k. Force the ROW arm: k high
    // enough that the row budget trips long before 65536 groups —
    // groups × (k+1) > FlushRows with groups ≪ FlushGroups — and
    // assert the result is still the exact top-k per group.
    graft.plans.Plans.install(spark)
    graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      val k = 900
      val groups = 5000L // 5000 · 901 ≈ 4.5M retained > FlushRows (4.2M)
      assert(groups * (k + 1) > graft.plans.TopKPerGroupExec.FlushRows,
        "guard: this shape must trip the row budget")
      val rowsPerGroup = 903L
      val df = spark.range(groups * rowsPerGroup)
        .select((col("id") % groups).as("g"), col("id").as("v"))
        .coalesce(1)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v"))
      val out = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).select(col("g"), col("v"))
      assert(out.queryExecution.executedPlan.collectFirst {
        case t: graft.plans.TopKPerGroupExec => t }.nonEmpty,
        "guard: the rewrite must fire on this plan")
      assert(out.count() == groups * k, "exactly k survivors per group")
    }
  }

  test("one-row-aggregate cross joins broadcast even with AQE off") {
    // codebase convention (v7Ratio, histPercentiles, sourceKl): a
    // cross join against a singleton aggregate carries an explicit
    // broadcast() hint so the plan can never degrade to a full
    // nested-loop when AQE is disabled. Pins the r10-audited site.
    graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      def joins(df: org.apache.spark.sql.DataFrame) = {
        val plan = df.queryExecution.executedPlan
        val bnl = plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        }
        val cart = plan.collect {
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        }
        assert(cart.isEmpty, "cartesian product must never appear at these sites")
        (bnl, plan)
      }
      val (bnl, plan) = joins(ops.Flow.d2SequentialGate(spark, sf))
      assert(bnl.nonEmpty, s"expected a broadcast cross join:\n${plan.toString.take(1500)}")
      // t_pmi_bigrams' corpus totals are literals from the lexical
      // index snapshot: no one-row side is joined at all
      val (pmiBnl, pmiPlan) = joins(ops.Text.pmiBigrams(spark, sf))
      assert(pmiBnl.isEmpty,
        s"t_pmi_bigrams joins a one-row side:\n${pmiPlan.toString.take(1500)}")
    }
  }

  test("ANN topk path plans through TopKPerGroupExec (one mechanism)") {
    graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      val plan = ops.Vector.annBruteTopk(spark, sf)
        .queryExecution.executedPlan
      val nodes = plan.collect { case t: graft.plans.TopKPerGroupExec => t }
      assert(nodes.size == 1 && nodes.head.partial,
        s"brute top-k must run one prune-only heap operator:\n${plan.toString.take(2000)}")
    }
  }
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite non-equi **range joins** into binned
  * equi-joins.
  *
  * Spark plans an inner join whose condition is only range predicates
  * (`p >= lo AND p < hi` across the two sides) as
  * BroadcastNestedLoopJoin or CartesianProduct — O(|L|·|R|) compares,
  * the classic 100 TB cliff for event-to-interval joins (sessionization
  * against maintenance windows, as-of enrichment, IP-range lookups).
  *
  * The rewrite is the standard binning technique (e.g. Databricks'
  * range-join optimization; Bruno et al., "Advanced Join Strategies for
  * Large-Scale Joins"): pick a bin width B, assign the point side to
  * bucket `floor(sec(p) / B)`, explode the interval side to every
  * bucket in `[floor(sec(lo)/B), floor(sec(hi)/B)]`, hash-join on the
  * bucket id, and re-apply the original condition as a residual filter.
  * A point lands in exactly one bucket, so no dedup is needed; the
  * bucketing function is monotone, so every qualifying pair shares a
  * bucket — the rewrite is exactly semantics-preserving, and the join
  * becomes a shuffle-on-bucket hash join: O(|L| + |R|·span/B) rows
  * moved instead of O(|L|·|R|) compares.
  *
  * Fires only on: inner joins, with at least one cross-side lower AND
  * upper bound on the same point expression, with NO cross-side equi
  * conjunct (those already hash-join), on timestamp/integral types.
  * Bin width (seconds for timestamps): `spark.graft.rangeJoin.binSize`,
  * default 3600. Inverted/null intervals are filtered before the
  * explode (they cannot match the original condition).
  *
  * Install per-session via [[Plans.install]] (extraOptimizations) or
  * cluster-wide via `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object RangeJoinBinning extends Rule[LogicalPlan] with PredicateHelper {
  val BinSizeConf = "spark.graft.rangeJoin.binSize"

  /** Lift a point/bound expression to a common integral (seconds for
    * timestamps) domain; None = unsupported type. */
  private def toLongDomain(e: Expression): Option[Expression] = e.dataType match {
    case TimestampType                     => Some(UnixSeconds(e))
    case LongType                          => Some(e)
    case IntegerType | ShortType | ByteType => Some(Cast(e, LongType))
    case _                                 => None
  }

  /** One side of a canonicalized comparison: `point` is bounded by
    * `bound` from the other side; isLower = bound is a lower bound. */
  private case class Cand(point: Expression, pointIsLeft: Boolean,
      bound: Expression, isLower: Boolean)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(_, _, Inner, Some(_), _) if j.resolved =>
      rewrite(j).getOrElse(j)
  }

  private def rewrite(j: Join): Option[LogicalPlan] = {
    val Join(left, right, _, Some(cond), hint) = j
    val binSize = conf.getConfString(BinSizeConf, "3600").toLong
    if (binSize <= 0) return None
    val conjuncts = splitConjunctivePredicates(cond)

    def fromLeft(e: Expression) =
      e.deterministic && e.references.nonEmpty && e.references.subsetOf(left.outputSet)
    def fromRight(e: Expression) =
      e.deterministic && e.references.nonEmpty && e.references.subsetOf(right.outputSet)
    def crossSide(a: Expression, b: Expression) =
      (fromLeft(a) && fromRight(b)) || (fromRight(a) && fromLeft(b))

    // Any cross-side equi conjunct → Spark already hash-joins; skip.
    // (Also makes the rewrite idempotent: the join we emit has one.)
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b)       => crossSide(a, b)
      case EqualNullSafe(a, b) => crossSide(a, b)
      case _                   => false
    }
    if (hasEqui) return None

    // Canonicalize comparisons: a >= b reads both as "a lower-bounded
    // by b" and "b upper-bounded by a" — we don't know yet which side
    // is the point and which the interval.
    def cands(a: Expression, b: Expression, aHasLower: Boolean): Seq[Cand] =
      if (fromLeft(a) && fromRight(b))
        Seq(Cand(a, pointIsLeft = true, b, aHasLower),
          Cand(b, pointIsLeft = false, a, !aHasLower))
      else if (fromRight(a) && fromLeft(b))
        Seq(Cand(a, pointIsLeft = false, b, aHasLower),
          Cand(b, pointIsLeft = true, a, !aHasLower))
      else Nil

    val all = conjuncts.flatMap {
      case GreaterThan(a, b)        => cands(a, b, aHasLower = true)
      case GreaterThanOrEqual(a, b) => cands(a, b, aHasLower = true)
      case LessThan(a, b)           => cands(a, b, aHasLower = false)
      case LessThanOrEqual(a, b)    => cands(a, b, aHasLower = false)
      case _                        => Nil
    }.filter(c =>
      toLongDomain(c.point).isDefined && toLongDomain(c.bound).isDefined)

    // First point expression that has BOTH a lower and an upper bound
    // from the opposite side.
    val grouped = all.groupBy(c => (c.point.canonicalized, c.pointIsLeft))
    val hit = grouped.values.find(g => g.exists(_.isLower) && g.exists(!_.isLower))
    hit.map { g =>
      val point = g.head.point
      val pointIsLeft = g.head.pointIsLeft
      val lo = g.find(_.isLower).get.bound
      val hi = g.find(!_.isLower).get.bound

      val binLit = Literal(binSize, LongType)
      def bucket(e: Expression): Expression =
        IntegralDivide(toLongDomain(e).get, binLit)

      val (pointSide, boundSide) =
        if (pointIsLeft) (left, right) else (right, left)
      val binP = Alias(bucket(point), "graft_bin_point")()
      val pointProj = Project(pointSide.output :+ binP, pointSide)
      // Rows with lo > hi (or null bounds) cannot satisfy the original
      // condition; drop them before Sequence (which errors on start >
      // stop). Compared at bucket granularity to match the explode.
      val guarded = Filter(LessThanOrEqual(bucket(lo), bucket(hi)), boundSide)
      val seq = Sequence(bucket(lo), bucket(hi),
        Some(Literal(1L, LongType)), Some(conf.sessionLocalTimeZone))
      val binB = AttributeReference("graft_bin", LongType, nullable = false)()
      val gen = Generate(Explode(seq), unrequiredChildIndex = Nil,
        outer = false, qualifier = None, generatorOutput = Seq(binB), guarded)
      val eq = EqualTo(binP.toAttribute, binB)
      val (nl, nr) = if (pointIsLeft) (pointProj, gen) else (gen, pointProj)
      val newJoin = Join(nl, nr, Inner, Some(And(eq, cond)), hint)
      Project(j.output, newJoin)
    }
  }
}

/** Session-level install without `spark.sql.extensions` (the driver
  * owns SparkSession construction in Verify/Bench/perfbench):
  * [[graft.SparkEntry.queries]] calls [[Plans.install]] before
  * building each query, so a query plans with the same rules whichever
  * queries the session ran before it. Idempotent. */
object Plans {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import graft.{Tables, Util}

  /** The custom optimizer rules and planner strategies — the one list
    * both [[install]] and [[GraftExtensions]] add. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(RangeJoinBinning, RankFilterToGroupTopK)
  val strategies: Seq[org.apache.spark.sql.execution.SparkStrategy] =
    Seq(GroupTopKStrategy, SmallSortStrategy)

  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      cur ++ rules.filterNot(cur.contains)
    val strats = spark.experimental.extraStrategies
    spark.experimental.extraStrategies =
      strats ++ strategies.filterNot(strats.contains)
  }

  /** Events joined to 6-hour daily maintenance windows on a pure range
    * condition — the join Spark would otherwise nested-loop. With the
    * rule installed it plans as an equi-join on 1-hour bins + residual
    * filter (see PlansSpec plan assertions). */
  def rangeJoinBinned(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val iv = e.select(date_trunc("day", col("ts")).as("lo")).distinct()
      .withColumn("hi", col("lo") + expr("INTERVAL 6 HOURS"))
    e.join(iv, col("ts") >= col("lo") && col("ts") < col("hi"))
      .groupBy(col("lo"))
      .agg(count(lit(1)).as("n_events"),
        sum(Util.cents(col("value"))).as("value_cents"))
      .select(Util.fmtTs(col("lo")).as("window_start"),
        col("n_events"), col("value_cents"))
      .orderBy(col("window_start"))
  }
  val rangeJoinBinnedSql: String =
    """SELECT strftime(lo, '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_events,
       CAST(sum(floor(value * 100.0)) AS BIGINT) AS value_cents
       FROM events e
       JOIN (SELECT lo, lo + INTERVAL 6 HOUR AS hi
             FROM (SELECT DISTINCT date_trunc('day', ts) AS lo FROM events))
         ON e.ts >= lo AND e.ts < hi
       GROUP BY lo ORDER BY window_start"""

  /** Hourly session concurrency ("how many users are online right
    * now"): each hour tick joined to the gap-30min session intervals
    * containing it. The tick-in-interval predicate is exactly the
    * binning rule's shape, so the O(hours × sessions) nested loop
    * the naive plan would pick becomes a binned hash join — the same
    * rewrite as [[rangeJoinBinned]], proving the rule generalizes
    * beyond its first query. Hours with zero active sessions drop out
    * (inner join), mirrored in the oracle. */
  def sessionConcurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val sess = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("lo"),
        col("session_window.end").as("hi"))
    val spine = Tables.events(spark, sfDir)
      .select(date_trunc("hour", col("ts")).as("h")).distinct()
    spine.join(sess, col("h") >= col("lo") && col("h") < col("hi"))
      .groupBy(col("h"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(Util.fmtTs(col("h")).as("hour"), col("n_active"))
      .orderBy(col("hour"))
  }
  val sessionConcurrencySql: String =
    """WITH e AS (SELECT user_id, event_id,
           date_trunc('microseconds', ts) AS ts FROM events),
       sx AS (
         SELECT user_id, ts,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
         FROM (
           SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                  OR ts - prev_ts >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
           FROM (
             SELECT user_id, event_id, ts,
               lag(ts, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev_ts
             FROM e))),
       sess AS (SELECT user_id, min(ts) AS lo,
                  max(ts) + INTERVAL 30 MINUTE AS hi
                FROM sx GROUP BY user_id, sess_idx),
       spine AS (SELECT DISTINCT date_trunc('hour', ts) AS h FROM e)
       SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
         count(DISTINCT user_id) AS n_active
       FROM spine JOIN sess ON h >= lo AND h < hi
       GROUP BY h ORDER BY hour"""

  /** `topk_grouped_heap`'s semantics through the PHYSICAL operator
    * ([[GroupTopK]] → [[GroupTopKStrategy]] → [[TopKPerGroupExec]]):
    * top-5 orders by price per priority class. The plan shows
    * partial → exchange → final with only survivors crossing (PlansSpec
    * asserts the node pair and the exchange position); the rank column
    * is a window over the ≤ 25 survivor rows, not the input. */
  def topkGroupedExec(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"),
        Util.cents(col("o_totalprice")).cast("long").as("price_cents"),
        col("o_orderkey"))
    val lp = base.queryExecution.analyzed
    val Seq(prio, cents, okey) = lp.output
    val survivors = org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(
      spark, GroupTopK(Seq(prio),
        Seq(SortOrder(cents, Descending), SortOrder(okey, Ascending)),
        k = 5, lp))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("price_cents").desc, col("o_orderkey"))
    survivors.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"),
        col("price_cents"))
      .orderBy(col("o_orderpriority"), col("rank"))
  }
  val topkGroupedExecSql: String =
    """SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rank, o_orderkey,
         price_cents
       FROM (
         SELECT o_orderpriority, o_orderkey,
           CAST(floor(o_totalprice * 100.0) AS BIGINT) AS price_cents,
           row_number() OVER (PARTITION BY o_orderpriority
             ORDER BY floor(o_totalprice * 100.0) DESC, o_orderkey) AS rnk
         FROM orders)
       WHERE rnk <= 5 ORDER BY o_orderpriority, rank"""

  val queries: Map[String, Util.QFn] = Map(
    "range_join_binned" -> rangeJoinBinned,
    "session_concurrency" -> sessionConcurrency,
    "topk_grouped_exec" -> topkGroupedExec)
  val oracles: Map[String, String] = Map(
    "range_join_binned" -> rangeJoinBinnedSql,
    "session_concurrency" -> sessionConcurrencySql,
    "topk_grouped_exec" -> topkGroupedExecSql)
}

package graft.ops

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Util._

/** Work item for dynamic fan-out (D1). */
case class WorkItem(client: String)

/** Per-item outcome: failures isolate to their own row instead of
  * failing the job (the reference's per-mapped-task-instance retry
  * boundary, dags/DNS_Requests.py:139). */
case class WorkResult(client: String, status: String, result: String)

/** Dataflow / orchestration operators (SURVEY.md §2.4 D1–D8).
  *
  * The reference's only parallelism primitive is `.expand()` — a task
  * instance per list element. In Spark the list IS a Dataset and
  * per-item isolation is a row-level try/catch producing a status
  * column; retries/timeouts wrap driver-side actions.
  */
object Flow {

  /** Per-item processing with error isolation — a poison item yields an
    * error row, never a job failure. */
  def processClient(w: WorkItem): WorkResult =
    try {
      if (w.client.startsWith("bad"))
        throw new IllegalStateException("unreachable")
      WorkResult(w.client, "ok", s"https://${w.client}.example.com/status")
    } catch {
      case e: Exception => WorkResult(w.client, "error", e.getMessage)
    }

  // D1 — dynamic fan-out over a runtime list with per-item isolation.
  def d1FanoutIsolation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Seq("iowa|chicago|bad-host|racknerd").toDF("cfg")
      .select(explode(split(col("cfg"), "\\|")).as("client"))
      .as[WorkItem]
      .map(processClient)
      .toDF()
      .orderBy(col("client"))
  }
  val d1Sql: String =
    """SELECT client, status, result FROM (VALUES
        ('iowa', 'ok', 'https://iowa.example.com/status'),
        ('chicago', 'ok', 'https://chicago.example.com/status'),
        ('bad-host', 'error', 'unreachable'),
        ('racknerd', 'ok', 'https://racknerd.example.com/status'))
       AS t(client, status, result) ORDER BY client"""

  // D2 — sequential dependency: downstream rows flow only if the
  // upstream guard holds (check_protection() >> check_requests).
  def d2SequentialGate(spark: SparkSession, sfDir: String): DataFrame = {
    val guard = Tables.events(spark, sfDir)
      .agg(count(lit(1)).as("n"))
      .select((col("n") > 0).as("ok"))
    Tables.events(spark, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(guard))
      .filter(col("ok"))
      .select(col("event_type"), col("n"), col("ok"))
      .orderBy(col("event_type"))
  }
  val d2Sql: String =
    """SELECT event_type, n, ok
       FROM (SELECT event_type, count(1) AS n FROM events GROUP BY 1)
       CROSS JOIN (SELECT count(1) > 0 AS ok FROM events)
       WHERE ok ORDER BY event_type"""

  /** D3 — persist-once: one shared upstream scan feeds many downstream
    * branches without re-reading (dags/Backups.py:142-153). Catalyst
    * does not cache across actions; this does. `mk` derives the frame
    * named `name` from `paths`; it is persisted once per (session,
    * name, paths) in a [[graft.Util.FingerprintMemo]] slot — keyed on
    * the session object, so another session (a `newSession()`, a new
    * application) is never handed this one's frame. An in-place
    * regeneration of `paths` rebuilds the frame and unpersists the
    * superseded copy, so the cache neither serves stale data nor
    * accumulates dead persisted copies. An in-flight query reading the
    * superseded frame recomputes from the regenerated files — inherent
    * to content rotation. File-backed dataset artifacts go through
    * [[graft.Artifacts]] instead. */
  def sharedScanOf(spark: SparkSession, name: String, paths: Seq[String])(
      mk: => DataFrame): DataFrame =
    sharedScans(spark, paths, (spark, name))(mk.persist())
  private[graft] val sharedScans = new FingerprintMemo[DataFrame](
    release = df =>
      try df.unpersist() catch { case _: IllegalStateException => () },
    // self-heal: an external spark.catalog.clearCache() (the bench's
    // session-aging guard, a user tidying the session) evicts the
    // blocks behind the memo's back — without a re-persist every later
    // consumer would silently recompute the shared stage per action
    // (r10: t_decontam read 3× its baseline exactly this way)
    onHit = df =>
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df.persist())

  // D3 — two branches over one persisted upstream.
  def d3SharedReuse(spark: SparkSession, sfDir: String): DataFrame = {
    val base = sharedScanOf(spark, "events", Seq(s"$sfDir/events.parquet"))(
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"), col("ts")))
    val errs = base.filter(col("event_type") === "error")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_errors"))
    val last = base.groupBy(col("user_id")).agg(max(col("ts")).as("last_ts"))
    last.join(errs, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"),
        fmtTs(col("last_ts")).as("last_seen"))
      .orderBy(col("user_id"))
  }
  val d3Sql: String =
    """WITH base AS (SELECT user_id, event_type, ts FROM events),
       errs AS (SELECT user_id, count(1) AS n_errors FROM base
                WHERE event_type = 'error' GROUP BY 1),
       last AS (SELECT user_id, max(ts) AS last_ts FROM base GROUP BY 1)
       SELECT user_id, coalesce(n_errors, 0) AS n_errors,
         strftime(last_ts, '%Y-%m-%d %H:%M:%S') AS last_seen
       FROM last LEFT JOIN errs USING (user_id) ORDER BY user_id"""

  /** D5 — retry policy around a driver-side action (the reference's
    * `retries: 2, retry_delay: 300s` — dags/DNS_Requests.py:13-17). */
  /** Inline data-quality metrics via Dataset.observe: the monitoring
    * counters ride ALONG the query (collected by the executors as the
    * plan runs — no second scan), and surface through the returned
    * thunk after any action on the df. The zero-extra-pass way to get
    * "rows seen / nulls / max event time" from a 100 TB load job.
    * Returns (observed df, () => metrics row). */
  def withObservedMetrics(df: DataFrame, name: String)
      : (DataFrame, () => org.apache.spark.sql.Row) = {
    val holder =
      new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get(name).foreach(holder.set)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    df.sparkSession.listenerManager.register(listener)
    val observed = df.observe(name,
      count(lit(1)).as("n_rows"),
      sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("n_null_type"),
      max(col("ts")).as("max_ts"))
    // listener delivery is async: poll briefly after the action. fetch
    // is one-shot — it unregisters the listener once the row arrives,
    // so repeated calls in a long-lived session don't accumulate
    // listeners or cross-talk between same-named observations.
    val fetch = () => {
      var spins = 0
      while (holder.get() == null && spins < 100) {
        Thread.sleep(50); spins += 1
      }
      df.sparkSession.listenerManager.unregister(listener)
      require(holder.get() != null, s"observed metrics '$name' never arrived")
      holder.get()
    }
    (observed, fetch)
  }

  def withRetry[T](retries: Int, delayMs: Long = 0)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case e: Exception =>
          attempt += 1
          if (attempt > retries) throw e
          if (delayMs > 0) Thread.sleep(delayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** D6 — run timeout around a driver-side action
    * (dagrun_timeout=60s — dags/DNS_Requests.py:33). */
  def withTimeout[T](ms: Long)(f: => T): T =
    Await.result(Future(f), Duration(ms, "ms"))

  /** D6, engine-grade: like [[withTimeout]] but actually cancels the
    * in-flight Spark jobs on expiry (an abandoned Future would keep
    * burning executor slots — the difference matters at cluster
    * scale). Uses a job group + cancelJobGroup. */
  def withQueryTimeout[T](spark: SparkSession, ms: Long)(f: => T): T = {
    val group = s"graft-timeout-${System.nanoTime()}"
    // setJobGroup is a thread-local: it must run on the SAME thread
    // that submits the jobs (the Future's), not the caller's.
    val fut = Future {
      spark.sparkContext.setJobGroup(group, "graft query with timeout",
        interruptOnCancel = true)
      try f finally spark.sparkContext.clearJobGroup()
    }
    try Await.result(fut, Duration(ms, "ms"))
    catch {
      case e: java.util.concurrent.TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        throw e
    }
  }

  /** D4 — recurring-run driver: the thin scheduler loop that
    * re-executes a job set on a fixed cadence — the engine-external
    * half of the reference's cron schedules (`"0 *\/6 * * *"` —
    * dags/DNS_Requests.py:23, dags/Cloudflare_Apps.py:54). Ticks are
    * fixed-rate (tick i due at start + i·period — cron semantics, no
    * drift accumulation; an overrunning tick starts its successor
    * immediately). Each tick composes [[withRetry]] + [[withTimeout]]
    * exactly as a DAG run carries `retries` + `dagrun_timeout`
    * (dags/DNS_Requests.py:13-17,33), and failures isolate per tick.
    * On a cluster this loop lives in the orchestrator process; the
    * engine underneath is unchanged. */
  def runRecurring[T](ticks: Int, periodMs: Long, retries: Int = 2,
      retryDelayMs: Long = 0, timeoutMs: Long = 60000)(
      job: Int => T): Seq[scala.util.Try[T]] = {
    val start = System.nanoTime()
    (0 until ticks).map { i =>
      val waitMs = (start + i * periodMs * 1000000L - System.nanoTime()) /
        1000000L
      if (waitMs > 0) Thread.sleep(waitMs)
      scala.util.Try(withRetry(retries, retryDelayMs)(
        withInterruptingTimeout(timeoutMs)(job(i))))
    }
  }

  /** D4 with real cron semantics: ticks fire at the schedule's
    * next-fire times (`"0 * * * *"` = at minute 0, `"@daily"` =
    * midnight UTC — the reference's exact strings,
    * dags/DNS_Requests.py:23, dags/Airflow_Cleanup.py:29) instead of
    * [[runRecurring]]'s fixed rate. Overrun ticks do NOT backfill:
    * fire times already in the past when a tick finishes are skipped
    * and the loop waits for the next future one — the reference's
    * `catchup=False` (dags/DNS_Requests.py:26). `now`/`sleep` are
    * injectable so schedule arithmetic is unit-testable without
    * wall-clock waits. */
  def runRecurringCron[T](cronExpr: String, ticks: Int, retries: Int = 2,
      retryDelayMs: Long = 0, timeoutMs: Long = 60000,
      now: () => java.time.Instant = () => java.time.Instant.now(),
      sleep: Long => Unit = Thread.sleep)(
      job: java.time.Instant => T): Seq[scala.util.Try[T]] = {
    val cron = Cron.parse(cronExpr)
    // resolve each tick's fire from max(now, previous fire): sleep()
    // granularity is milliseconds, so the clock can wake a hair BEFORE
    // fireAt — re-deriving from the raw clock would resolve the same
    // fire twice. Anchoring on the previous fire makes every resolved
    // fire strictly later regardless of clock/sleep rounding, while
    // still skipping past-due fires (no catchup) when a job overruns.
    var prevFire: Option[java.time.Instant] = None
    (0 until ticks).map { _ =>
      val anchor = prevFire match {
        case Some(p) => { val n = now(); if (n.isAfter(p)) n else p }
        case None => now()
      }
      val fireAt = cron.nextFire(anchor)
      prevFire = Some(fireAt)
      val waitMs = java.time.Duration.between(now(), fireAt).toMillis
      if (waitMs > 0) sleep(waitMs)
      scala.util.Try(withRetry(retries, retryDelayMs)(
        withInterruptingTimeout(timeoutMs)(job(fireAt))))
    }
  }

  /** Timeout that INTERRUPTS the job thread on expiry. [[withTimeout]]'s
    * Await abandons its Future, which keeps running — composed with
    * retry, a timed-out tick would overlap its own retry (and the next
    * tick), duplicating side effects. Spark driver-side actions abort
    * on interrupt; a job that swallows interrupts can still linger,
    * which [[withQueryTimeout]]'s job-group cancel handles for full
    * queries. */
  def withInterruptingTimeout[T](ms: Long)(f: => T): T = {
    val result =
      new java.util.concurrent.atomic.AtomicReference[Either[Throwable, T]]()
    val t = new Thread(() => {
      try result.set(Right(f))
      catch { case e: Throwable => result.set(Left(e)) }
    }, s"graft-timeout-${System.nanoTime()}")
    t.setDaemon(true)
    t.start()
    t.join(ms)
    if (t.isAlive) {
      t.interrupt()
      throw new java.util.concurrent.TimeoutException(
        s"job exceeded $ms ms (thread interrupted)")
    }
    result.get() match {
      case Right(v) => v
      case Left(e) => throw e
      case null => throw new IllegalStateException("job thread died silently")
    }
  }

  // D7 — env-conditional registration (dags/Airflow_Cleanup.py:75-76):
  // feature gates derived from the deployment env.
  def d7EnvGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val env = sys.env.getOrElse("GRAFT_ENV", "prod")
    Seq((env, env == "prod", env != "dev"))
      .toDF("env", "alerts_enabled", "retention_enabled")
  }
  /** Oracle derives from the same env read (computed at dump time), so
    * query and oracle agree under any GRAFT_ENV. */
  def d7Sql: String = {
    val env = sys.env.getOrElse("GRAFT_ENV", "prod")
    s"""SELECT '$env' AS env, ${env == "prod"} AS alerts_enabled,
        ${env != "dev"} AS retention_enabled"""
  }

  // Sessionization — batch twin of the streaming
  // mapGroupsWithState sessionizer (graft.streaming): 30-minute
  // inactivity gap splits sessions.
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(spark, sfDir)
      .withColumn("prev_s", unix_timestamp(lag(col("ts"), 1).over(w)))
      .withColumn("new_sess",
        when(col("prev_s").isNull ||
          unix_timestamp(col("ts")) - col("prev_s") > 1800, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(cum))
      .groupBy(col("user_id"), col("sess_idx"))
      .agg(count(lit(1)).as("n_events"),
        fmtTs(min(col("ts"))).as("session_start"),
        fmtTs(max(col("ts"))).as("session_end"))
      .orderBy(col("user_id"), col("sess_idx"))
  }
  // sess_idx CAST: DuckDB sum(int) is HUGEINT → pandas float64, which
  // the driver hashes differently from Spark's int64. The inner ts is
  // µs-truncated so both engines order on byte-identical keys (Spark's
  // events.ts is already µs via Tables.events).
  val sessionizeSql: String =
    """SELECT user_id, sess_idx, count(1) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
       FROM (
         SELECT user_id, ts,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS sess_idx
         FROM (
           SELECT user_id, event_id, ts,
             CASE WHEN prev_s IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT) - prev_s > 1800
                  THEN 1 ELSE 0 END AS new_sess
           FROM (
             SELECT user_id, event_id, ts,
               CAST(floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id))) AS BIGINT) AS prev_s
             FROM (SELECT user_id, event_id,
                     date_trunc('microseconds', ts) AS ts FROM events))))
       GROUP BY user_id, sess_idx ORDER BY user_id, sess_idx"""

  /** D4 catchup/backfill planner — the enumeration half of Airflow's
    * scheduler. Given a schedule and a backfill window, Airflow
    * (catchup=True) creates one run per completed DATA INTERVAL: the
    * run with logical date t covers [t, next_tick) and only becomes
    * schedulable once that interval has fully elapsed, so the final
    * tick in the window enumerates no run. This query plans the
    * reference's 6-hourly Speedtest schedule (dags/Speedtest.py:23)
    * over the events month and sizes each run's interval by its event
    * count — the "how much data does each backfill run cover" report a
    * data-aware backfill starts from.
    *
    * Relational throughout: the cron compiles to a codegen'd predicate
    * over a minute-grain tick spine ([[Cron.predicateSql]] — no
    * per-row driver callback, and the DuckDB oracle evaluates the
    * identical semantics); the interval sizing is an INNER range join
    * the RangeJoinBinning rule rewrites to a binned hash join (its
    * third consumer), then a tiny left join re-attaches zero-event
    * runs. The lead() window is global but over the TICK SPINE —
    * bounded by the plan horizon (minutes in the window), never by
    * data volume. */
  def d4BackfillPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val cron = Cron.parse("0 */6 * * *")
    val (start, end) = ("2024-01-01 00:00:00", "2024-02-01 00:00:00")
    val ticks = spark.range(1).select(explode(expr(
        s"sequence(timestamp'$start', timestamp'$end', interval 1 minute)"))
        .as("tick"))
      .filter(expr(cron.predicateSql("tick", "spark")))
    // global-order window is fine HERE: it sorts the cron-filtered
    // tick spine (plan-horizon/interval rows, ~hundreds), never data
    val w = Window.orderBy(col("tick"))
    val runs = ticks
      .withColumn("hi", lead(col("tick"), 1).over(w))
      .filter(col("hi").isNotNull)
      .select(col("tick").as("lo"), col("hi"))
    val counts = runs
      .join(Tables.events(spark, sfDir).select(col("ts")),
        col("ts") >= col("lo") && col("ts") < col("hi"))
      .groupBy(col("lo"), col("hi")).agg(count(lit(1)).as("n_events"))
    runs.join(counts, Seq("lo", "hi"), "left")
      .select(fmtTs(col("lo")).as("interval_start"),
        fmtTs(col("hi")).as("interval_end"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("interval_start"))
  }
  val d4BackfillPlanSql: String = {
    val pred = Cron.parse("0 */6 * * *").predicateSql("tick", "duckdb")
    s"""WITH ticks AS (
         SELECT ts AS tick FROM generate_series(
           TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-02-01 00:00:00',
           INTERVAL 1 MINUTE) t(ts)
         WHERE $pred),
       runs AS (SELECT tick AS lo, lead(tick) OVER (ORDER BY tick) AS hi
                FROM ticks),
       r AS (SELECT lo, hi FROM runs WHERE hi IS NOT NULL),
       c AS (SELECT lo, hi, count(1) AS n FROM r
             JOIN events e ON e.ts >= r.lo AND e.ts < r.hi
             GROUP BY lo, hi)
       SELECT strftime(r.lo, '%Y-%m-%d %H:%M:%S') AS interval_start,
         strftime(r.hi, '%Y-%m-%d %H:%M:%S') AS interval_end,
         CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
       FROM r LEFT JOIN c ON r.lo = c.lo AND r.hi = c.hi
       ORDER BY interval_start"""
  }

  /** D4 backfill EXECUTION — the other half of the scheduler:
    * [[d4BackfillPlan]] enumerates the runs; this query executes them
    * through the crash-replay-idempotent incremental runner
    * ([[graft.streaming.EventsStream.runIncremental]]) and returns the
    * MATERIALIZED table, proving plan = execution. The events source
    * streams through the runner (AvailableNow), each micro-batch
    * folding into per-interval counts via a stream-static join against
    * the planned spine; Complete-mode materialization makes a replayed
    * batch rewrite rather than double-count (the runner's foreachBatch
    * contract), so a crashed backfill resumes idempotently. Zero-event
    * intervals are re-attached at read-back exactly like the planner.
    * State is bounded by the plan horizon (one row per interval),
    * never by event volume. The oracle is the PLANNER's SQL — any
    * divergence between enumerated plan and executed result breaks the
    * hash match. */
  def d4BackfillRun(spark: SparkSession, sfDir: String): DataFrame = {
    val cron = Cron.parse("0 */6 * * *")
    val (start, end) = ("2024-01-01 00:00:00", "2024-02-01 00:00:00")
    val ticks = spark.range(1).select(explode(expr(
        s"sequence(timestamp'$start', timestamp'$end', interval 1 minute)"))
        .as("tick"))
      .filter(expr(cron.predicateSql("tick", "spark")))
    // tick-spine-bounded global window, as in [[d4BackfillPlan]]
    val w = Window.orderBy(col("tick"))
    val runs = ticks
      .withColumn("hi", lead(col("tick"), 1).over(w))
      .filter(col("hi").isNotNull)
      .select(col("tick").as("lo"), col("hi"))
    val src = graft.streaming.EventsStream.tableStream(
      spark, graft.streaming.EventsStream.rawSchema, sfDir, "events")
      .withColumn("ts", expr(s"timestamp_micros(${Tables.tsToMicrosSql(sfDir)})"))
    val counts = src.select(col("ts"))
      .join(runs, col("ts") >= col("lo") && col("ts") < col("hi"))
      .groupBy(col("lo"), col("hi")).agg(count(lit(1)).as("n_events"))
    val mat = graft.streaming.EventsStream.runIncremental(
      spark, counts, "d4bf", sfDir)
    runs.join(mat, Seq("lo", "hi"), "left")
      .select(fmtTs(col("lo")).as("interval_start"),
        fmtTs(col("hi")).as("interval_end"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("interval_start"))
  }

  val queries: Map[String, QFn] = Map(
    "d1_fanout_isolation" -> d1FanoutIsolation,
    "d2_sequential_gate" -> d2SequentialGate,
    "d3_shared_reuse" -> d3SharedReuse,
    "d4_backfill_plan" -> d4BackfillPlan,
    "d4_backfill_run" -> d4BackfillRun,
    "d7_env_gate" -> d7EnvGate,
    "sessionize" -> sessionize)

  val oracles: Map[String, String] = Map(
    "d1_fanout_isolation" -> d1Sql,
    "d2_sequential_gate" -> d2Sql,
    "d3_shared_reuse" -> d3Sql,
    "d4_backfill_plan" -> d4BackfillPlanSql,
    "d4_backfill_run" -> d4BackfillPlanSql,
    "d7_env_gate" -> d7Sql,
    "sessionize" -> sessionizeSql)
}

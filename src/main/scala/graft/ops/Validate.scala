package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Util._
import graft.sources.Sources

/** Threshold / temporal / assertion operators (SURVEY.md §2.3 V1–V10).
  *
  * Each reference "query" is an assert that turns a predicate into a
  * task failure. Here each becomes a declarative violation query: the
  * predicate is evaluated per row/group fully inside the plan (no
  * collect, no driver loop), so at 100 TB it is one scan + one shuffle
  * on the group key. `require(violations == 0)` semantics live in
  * [[assertEmpty]].
  */
object Validate {

  /** Engine-level assert: fail the job when a violation query is
    * non-empty (the reference's `raise AirflowException` lift —
    * dags/Speedtest.py:91-96). Uses isEmpty (limit-1 scan), not count. */
  def assertEmpty(df: DataFrame, msg: String): Unit =
    if (!df.isEmpty) throw new IllegalStateException(s"validation failed: $msg")

  /** Fixed "now" for oracle determinism — the reference's
    * `datetime.now()` (dags/DNS_Requests.py:103) becomes a parameter.
    * Data spans 2024-01-01 .. 2024-01-30 (TESTDATA.md). */
  val Now = "2024-01-31 00:00:00"

  // V1 — freshness: last event per user vs now − interval
  // (dags/DNS_Requests.py:97-136). Flagship query (SURVEY §7.2).
  def v1Freshness(spark: SparkSession, sfDir: String): DataFrame = {
    val bound = "2024-01-30 18:00:00" // Now − 6h
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"))
      .select(
        col("user_id"),
        fmtTs(col("last_ts")).as("last_seen"),
        (col("last_ts") < lit(bound).cast("timestamp")).as("stale"))
      .orderBy(col("user_id"))
  }
  val v1Sql: String =
    """SELECT user_id,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
       max(ts) < TIMESTAMP '2024-01-30 18:00:00' AS stale
       FROM events GROUP BY user_id ORDER BY user_id"""

  // V2 — folder-sync freshness: per (device=user, folder=event_type)
  // last scan; device stale iff its *oldest* folder scan is stale
  // (dags/Backups.py:104-139).
  def v2FolderFreshness(spark: SparkSession, sfDir: String): DataFrame = {
    val bound = "2024-01-30 12:00:00"
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("ts")).as("folder_last"))
      .groupBy(col("user_id"))
      .agg(min(col("folder_last")).as("oldest_scan"))
      .select(
        col("user_id"),
        fmtTs(col("oldest_scan")).as("oldest_scan"),
        (col("oldest_scan") < lit(bound).cast("timestamp")).as("any_stale"))
      .orderBy(col("user_id"))
  }
  val v2Sql: String =
    """SELECT user_id,
       strftime(min(folder_last), '%Y-%m-%d %H:%M:%S') AS oldest_scan,
       min(folder_last) < TIMESTAMP '2024-01-30 12:00:00' AS any_stale
       FROM (SELECT user_id, event_type, max(ts) AS folder_last
             FROM events GROUP BY user_id, event_type)
       GROUP BY user_id ORDER BY user_id"""

  // V3 — numeric lower-bound threshold against a per-device limit table
  // (dags/Speedtest.py:52-57,91-96). The limit table is a tiny config
  // dim → broadcast join (never a shuffle at scale).
  def v3Threshold(spark: SparkSession, sfDir: String): DataFrame = {
    val limits = spark.range(0, 200)
      .select(col("id").as("user_id"),
        ((col("id") % 5) * lit(25)).cast("double").as("min_limit"))
    val measured = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(col("value")).as("min_value"))
    measured.join(broadcast(limits), "user_id")
      .select(col("user_id"), col("min_value"), col("min_limit"),
        (col("min_value") < col("min_limit")).as("violation"))
      .orderBy(col("user_id"))
  }
  val v3Sql: String =
    """SELECT m.user_id, m.min_value, l.min_limit,
       m.min_value < l.min_limit AS violation
       FROM (SELECT user_id, min(value) AS min_value FROM events
             WHERE event_type = 'purchase' GROUP BY user_id) m
       JOIN (SELECT range AS user_id,
                    CAST((range % 5) * 25 AS DOUBLE) AS min_limit
             FROM range(0, 200)) l USING (user_id)
       ORDER BY m.user_id"""

  // V4 — boolean-state check (dags/DNS_Requests.py:85-95): fail when not
  // running, or when protection disabled with no re-enable timer.
  def v4BoolState(spark: SparkSession, sfDir: String): DataFrame =
    Sources.adguardStatusSrc(spark)
      .filter(!col("running") ||
        (!col("protection_enabled") && col("protection_disabled_duration") === 0))
      .select(col("endpoint"))
      .orderBy(col("endpoint"))
  val v4Sql: String =
    """SELECT endpoint FROM (VALUES
        ('adguard-1', true,  true,  0),
        ('adguard-2', true,  false, 300),
        ('adguard-3', false, true,  0),
        ('adguard-4', true,  false, 0))
       AS t(endpoint, running, protection_enabled, protection_disabled_duration)
       WHERE NOT running OR (NOT protection_enabled
             AND protection_disabled_duration = 0)
       ORDER BY endpoint"""

  // V5 — paused-state check (dags/Backups.py:93-101).
  def v5Paused(spark: SparkSession, sfDir: String): DataFrame =
    Sources.foldersSrc(spark)
      .filter(col("paused"))
      .select(col("device"), col("label"))
      .orderBy(col("device"), col("label"))
  val v5Sql: String =
    """SELECT device, label FROM (VALUES
        ('iowa', 'Documents', false), ('iowa', 'Photos', true),
        ('chicago', 'Documents', false), ('backup-server', 'Media', false))
       AS t(device, label, paused)
       WHERE paused ORDER BY device, label"""

  // V6 — age-based retention predicate (dags/Airflow_Cleanup.py:50-54):
  // rows older than now − 7 days form the delete set.
  def v6Retention(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = "2024-01-24 00:00:00" // Now − 7 days
    Tables.events(spark, sfDir)
      .filter(col("ts") < lit(cutoff).cast("timestamp"))
      .select(format_string("/data/log_%d.log", col("event_id")).as("path"))
      .orderBy(col("path"))
  }
  val v6Sql: String =
    """SELECT '/data/log_' || CAST(event_id AS VARCHAR) || '.log' AS path
       FROM events WHERE ts < TIMESTAMP '2024-01-24 00:00:00'
       ORDER BY path"""

  // V7 — ratio threshold (dags/Airflow_Cleanup.py:63-72): share of total
  // volume per user > 0.9%. The grand total rides a broadcast
  // crossJoin of the 1-row re-aggregate (the histPercentiles shape),
  // NOT an empty-frame window: Window.partitionBy() funnels every
  // per-user row through ONE task's sort for a single number — bounded
  // by |users| here, a single-task straggler at 10⁹ users. The extra
  // scan is of the already-aggregated frame, not the corpus.
  def v7Ratio(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    perUser
      .crossJoin(broadcast(perUser.agg(sum(col("n")).as("total"))))
      .select(col("user_id"), col("n"),
        e4(lit(1.0) * col("n") / col("total")).as("share_e4"),
        (lit(1.0) * col("n") / col("total") > 0.009).as("over_threshold"))
      .orderBy(col("user_id"))
  }
  val v7Sql: String =
    """SELECT user_id, n,
       CAST(floor((1.0 * n / total) * 10000.0) AS BIGINT) AS share_e4,
       1.0 * n / total > 0.009 AS over_threshold
       FROM (SELECT user_id, count(1) AS n,
                    sum(count(1)) OVER () AS total
             FROM events GROUP BY user_id)
       ORDER BY user_id"""

  // V8 — HTTP status-code guard (cloudflare_api.py:16-19 and every
  // fetch): non-200 staged fetches are the violation set.
  def v8StatusGuard(spark: SparkSession, sfDir: String): DataFrame =
    Sources.httpStatusSrc(spark)
      .filter(col("status_code") =!= 200)
      .orderBy(col("endpoint"))
  val v8Sql: String =
    """SELECT endpoint, status_code FROM (VALUES
        ('adguard-1/status', 200), ('adguard-2/status', 200),
        ('syncthing-1/health', 503), ('ha-1/api/states', 200),
        ('cf/zones', 429)) AS t(endpoint, status_code)
       WHERE status_code <> 200 ORDER BY endpoint"""

  // V9 — write-ack check (cloudflare_api.py:112-115).
  def v9AckCheck(spark: SparkSession, sfDir: String): DataFrame =
    Sources.ackSrc(spark)
      .filter(!col("success"))
      .select(col("record"))
      .orderBy(col("record"))
  val v9Sql: String =
    """SELECT record FROM (VALUES ('rec-01', true), ('rec-03', false),
        ('rec-05', true)) AS t(record, success)
       WHERE NOT success ORDER BY record"""

  // V10 — non-empty input guard (dags/Speedtest.py:43-44).
  def v10NonEmpty(spark: SparkSession, sfDir: String): DataFrame =
    Sources.foldersSrc(spark)
      .agg(countDistinct(col("device")).as("n_devices"))
      .select(col("n_devices"), (col("n_devices") > 0).as("ok"))
  val v10Sql: String =
    """SELECT count(DISTINCT device) AS n_devices,
       count(DISTINCT device) > 0 AS ok
       FROM (VALUES ('iowa', 'Documents', false), ('iowa', 'Photos', true),
        ('chicago', 'Documents', false), ('backup-server', 'Media', false))
       AS t(device, label, paused)"""

  // V14 — primary-key uniqueness audit, the DQ gate every warehouse
  // table runs before publish: is (l_orderkey, l_linenumber) a key of
  // lineitem? (In this synthetic corpus it is NOT — the generator does
  // not enforce the TPC-H PK — so the audit exercises its violation
  // path for real: the row is the profile a publish gate would act on.) One count-distinct-free pass — group on the candidate
  // key, count copies, aggregate the violation profile (a multi-column
  // COUNT DISTINCT would Expand-multiply the scan; the two-level
  // groupBy shuffles only (key, cnt) partials). The single-row result
  // carries the quantities a publish gate needs: row count, key count,
  // duplicated-key count, worst multiplicity, verdict.
  def v14PkUnique(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("copies"))
      .agg(sum(col("copies")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        sum(when(col("copies") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
        max(col("copies")).as("max_copies"))
      .select(col("n_rows"), col("n_keys"), col("n_dup_keys"),
        col("max_copies"), (col("n_dup_keys") === 0L).as("pk_ok"))
  val v14Sql: String =
    """SELECT CAST(sum(copies) AS BIGINT) AS n_rows,
         count(1) AS n_keys,
         CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_keys,
         CAST(max(copies) AS BIGINT) AS max_copies,
         sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) = 0 AS pk_ok
       FROM (SELECT l_orderkey, l_linenumber, count(1) AS copies
             FROM lineitem GROUP BY 1, 2)"""

  // V11 — data-driven threshold: z-score outliers per event_type (the
  // V3 lower-bound check with the bound learned from the data itself —
  // what the reference's speedtest limits become once there is enough
  // history to fit them). One groupBy shuffle for the per-type moments,
  // broadcast back onto the stream. Exactness: values are floored to
  // integer cents and the sums accumulate in decimal(38,0), so n, s,
  // s2 are exact integers in both engines; mean/stddev/z then come from
  // ONE identically-ordered double expression → the e4 verdict is
  // bit-equal, no tolerance needed.
  def v11ZscoreOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .withColumn("vc", cents(col("value")).cast("decimal(38,0)"))
    val moments = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("vc")).as("s"),
        sum(col("vc") * col("vc")).as("s2"))
      .filter(col("n") >= 2)
    val withZ = ev.join(broadcast(moments), "event_type")
      .withColumn("mean_d", col("s").cast("double") / col("n").cast("double"))
      .withColumn("var_d",
        (col("n").cast("double") * col("s2").cast("double") -
          col("s").cast("double") * col("s").cast("double")) /
          (col("n").cast("double") * (col("n").cast("double") - lit(1.0))))
      .filter(col("var_d") > 0.0)
      .withColumn("z",
        (col("vc").cast("double") - col("mean_d")) / sqrt(col("var_d")))
    withZ.filter(abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"),
        col("vc").cast("long").as("value_cents"),
        e4(col("z")).cast("long").as("z_e4"))
      .orderBy(col("event_id"))
  }
  val v11Sql: String =
    """WITH ev AS (
         SELECT event_id, event_type,
           CAST(floor(value * 100.0) AS HUGEINT) AS vc
         FROM events),
       m AS (
         SELECT event_type, count(1) AS n, sum(vc) AS s, sum(vc * vc) AS s2
         FROM ev GROUP BY event_type HAVING count(1) >= 2),
       v AS (
         SELECT ev.event_id, ev.event_type, ev.vc,
           CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE) AS mean_d,
           (CAST(m.n AS DOUBLE) * CAST(m.s2 AS DOUBLE) -
             CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE)) /
             (CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) - 1.0)) AS var_d
         FROM ev JOIN m USING (event_type)),
       z AS (
         SELECT event_id, event_type, vc,
           (CAST(vc AS DOUBLE) - mean_d) / sqrt(var_d) AS z
         FROM v WHERE var_d > 0.0)
       SELECT event_id, event_type, CAST(vc AS BIGINT) AS value_cents,
         CAST(floor(z * 10000.0) AS BIGINT) AS z_e4
       FROM z WHERE abs(z) > 3.0 ORDER BY event_id"""

  /** V12 — PSI drift monitor: population-stability index of the event
    * value distribution, reference window (Jan 2024) vs the rest.
    * Laplace-smoothed per-bin terms are floored to e8 fixed point, so
    * the verdict is an exact integer at any partitioning (same pattern
    * as v11's exact moments). One scan, one 10-key shuffle; the two
    * window totals ride along via a broadcast scalar join. */
  def v12PsiDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val binned = graft.Tables.events(spark, sfDir)
      .withColumn("bin",
        least(greatest(floor(col("value") / 10.0).cast("int"), lit(0)), lit(9)))
      .withColumn("in_ref",
        col("ts") < lit("2024-02-01 00:00:00").cast("timestamp"))
    val counts = binned.groupBy(col("bin"))
      .agg(sum(when(col("in_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("in_ref"), 1L).otherwise(0L)).as("n_cur"))
    val totals = counts.agg(sum(col("n_ref")).as("t_ref"),
      sum(col("n_cur")).as("t_cur"))
    counts.crossJoin(broadcast(totals))
      .withColumn("p", (col("n_ref") + lit(1.0)) / (col("t_ref") + lit(10.0)))
      .withColumn("q", (col("n_cur") + lit(1.0)) / (col("t_cur") + lit(10.0)))
      .withColumn("term_e8",
        floor((col("p") - col("q")) * log(col("p") / col("q")) * lit(1e8)))
      .select(col("bin"), col("n_ref"), col("n_cur"), col("term_e8"),
        (col("term_e8") > lit(2000000L)).as("bin_drifted"))
      .orderBy(col("bin"))
  }
  val v12Sql: String =
    """WITH b AS (
         SELECT least(greatest(CAST(floor(value / 10.0) AS INT), 0), 9) AS bin,
           ts < TIMESTAMP '2024-02-01 00:00:00' AS in_ref
         FROM events),
       c AS (
         SELECT bin,
           CAST(sum(CASE WHEN in_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
           CAST(sum(CASE WHEN NOT in_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
         FROM b GROUP BY bin),
       t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
                    CAST(sum(n_cur) AS BIGINT) AS t_cur FROM c)
       SELECT bin, n_ref, n_cur,
         CAST(floor(((n_ref + 1.0) / (t_ref + 10.0) -
                     (n_cur + 1.0) / (t_cur + 10.0)) *
           ln(((n_ref + 1.0) / (t_ref + 10.0)) /
              ((n_cur + 1.0) / (t_cur + 10.0))) * 1e8) AS BIGINT) AS term_e8,
         CAST(floor(((n_ref + 1.0) / (t_ref + 10.0) -
                     (n_cur + 1.0) / (t_cur + 10.0)) *
           ln(((n_ref + 1.0) / (t_ref + 10.0)) /
              ((n_cur + 1.0) / (t_cur + 10.0))) * 1e8) AS BIGINT) > 2000000
           AS bin_drifted
       FROM c CROSS JOIN t ORDER BY bin"""

  /** V13 — seasonal-baseline anomaly detection: each concrete
    * (date, hour) traffic bucket is compared against the MEAN count of
    * its own (day-of-week, hour) slot across history — the "is this
    * Tuesday 14:00 unusual for a Tuesday 14:00" monitor, one step past
    * V1's flat freshness bound (a weekend lull must not page, a
    * weekday-scale burst on Sunday must). Baseline and ratio are exact
    * integer e4 arithmetic; anomaly = 3× above or below the slot mean.
    * Two bounded shuffles (per-bucket count, per-slot mean over ≤ 168
    * keys), the slot table broadcast back — no fact re-shuffle. */
  def v13SeasonalBaseline(spark: SparkSession, sfDir: String): DataFrame = {
    val buckets = graft.Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"),
        (dayofweek(col("ts")) - 1).as("dow"), hour(col("ts")).as("hr"))
      .groupBy(col("day"), col("dow"), col("hr"))
      .agg(count(lit(1)).as("n_events"))
    val slots = buckets.groupBy(col("dow"), col("hr"))
      .agg(count(lit(1)).as("n_days"), sum(col("n_events")).as("total"))
      .withColumn("baseline_e4",
        expr("(total * 10000) DIV n_days"))
    buckets.join(broadcast(slots), Seq("dow", "hr"))
      .select(col("day").cast("string").as("day"), col("dow"), col("hr"),
        col("n_events"), col("baseline_e4"),
        (col("n_events") * 10000L >= col("baseline_e4") * 3L ||
          col("n_events") * 30000L <= col("baseline_e4"))
          .as("anomaly"))
      .orderBy(col("day"), col("hr"))
  }
  val v13Sql: String =
    """WITH b AS (
         SELECT CAST(ts AS DATE) AS day, dayofweek(ts) AS dow,
           CAST(hour(ts) AS INT) AS hr, count(1) AS n_events
         FROM events GROUP BY 1, 2, 3),
       s AS (
         SELECT dow, hr, count(1) AS n_days,
           CAST(sum(n_events) AS BIGINT) AS total
         FROM b GROUP BY dow, hr)
       SELECT CAST(b.day AS VARCHAR) AS day, CAST(b.dow AS INT) AS dow,
         b.hr AS hr, CAST(b.n_events AS BIGINT) AS n_events,
         CAST((total * 10000) // n_days AS BIGINT) AS baseline_e4,
         (b.n_events * 10000 >= ((total * 10000) // n_days) * 3
          OR b.n_events * 30000 <= ((total * 10000) // n_days))
           AS anomaly
       FROM b JOIN s ON b.dow = s.dow AND b.hr = s.hr
       ORDER BY day, hr"""

  // V15 — in-flight observe() metrics (Spark's CollectMetrics node):
  // the data-quality counters a production pipeline attaches to the
  // DATAFLOW ITSELF instead of paying a second audit scan — the
  // Spark-native home for the reference's per-DAG alert counters.
  // One pass computes the pipeline's real output (here the per-type
  // aggregate, counted as the action) AND the audit row; the gate
  // returns the observed metrics and oracle-checks them against
  // direct SQL, so a metrics row that under-counted (dropped
  // partitions, early-out) or drifted from the observed plan breaks
  // the hash. Exact cents keep the sum integer.
  def v15ObserveMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    Tables.events(spark, sfDir)
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(cents(col("value"))).as("value_cents"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .count() // the pipeline's action — metrics ride it, no extra scan
    // Option-wrap the nullable aggregates: over an empty table
    // sum/min/max observe as null, and a bare asInstanceOf[Long]
    // would silently unbox that to 0 — the row must carry the same
    // NULLs the oracle's SQL aggregates produce. The returned frame
    // is a driver-local row BY NATURE (observed metrics exist only on
    // the driver); the pipeline whose plan matters is the observed
    // scan above, which executes inside this call.
    val m = obs.get
    def opt(k: String): Option[Long] =
      Option(m(k)).map(_.asInstanceOf[Long])
    Seq((m("n_rows").asInstanceOf[Long], opt("value_cents"),
      opt("min_id"), opt("max_id")))
      .toDF("n_rows", "value_cents", "min_id", "max_id")
  }
  val v15Sql: String =
    """SELECT count(1) AS n_rows,
       CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT)
         AS value_cents,
       min(event_id) AS min_id, max(event_id) AS max_id
       FROM events"""

  val queries: Map[String, QFn] = Map(
    "v15_observe_metrics" -> v15ObserveMetrics,
    "v14_pk_unique" -> v14PkUnique,
    "v13_seasonal_baseline" -> v13SeasonalBaseline,
    "v12_psi_drift" -> v12PsiDrift,
    "v11_zscore_outliers" -> v11ZscoreOutliers,
    "v1_freshness" -> v1Freshness,
    "v2_folder_freshness" -> v2FolderFreshness,
    "v3_threshold" -> v3Threshold,
    "v4_bool_state" -> v4BoolState,
    "v5_paused" -> v5Paused,
    "v6_retention" -> v6Retention,
    "v7_ratio" -> v7Ratio,
    "v8_status_guard" -> v8StatusGuard,
    "v9_ack_check" -> v9AckCheck,
    "v10_nonempty" -> v10NonEmpty)

  val oracles: Map[String, String] = Map(
    "v15_observe_metrics" -> v15Sql,
    "v14_pk_unique" -> v14Sql,
    "v13_seasonal_baseline" -> v13Sql,
    "v12_psi_drift" -> v12Sql,
    "v11_zscore_outliers" -> v11Sql,
    "v1_freshness" -> v1Sql,
    "v2_folder_freshness" -> v2Sql,
    "v3_threshold" -> v3Sql,
    "v4_bool_state" -> v4Sql,
    "v5_paused" -> v5Sql,
    "v6_retention" -> v6Sql,
    "v7_ratio" -> v7Sql,
    "v8_status_guard" -> v8Sql,
    "v9_ack_check" -> v9Sql,
    "v10_nonempty" -> v10Sql)
}

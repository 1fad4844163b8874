package graft

import java.time.Instant

import graft.ops.{Cron, Flow}

/** Cron schedule semantics (D4) — known timetables in UTC, including
  * the reference's exact expressions (dags/DNS_Requests.py:23,
  * dags/Cloudflare_Apps.py:54, dags/Airflow_Cleanup.py:29). */
class CronSpec extends SparkSuite {

  private def t(s: String): Instant = Instant.parse(s)
  private def fires(expr: String, after: String, n: Int): Seq[String] =
    Cron.parse(expr).fireTimes(t(after)).take(n).map(_.toString).toSeq

  test("'0 * * * *' (hourly, DNS_Requests) fires at minute 0") {
    assert(fires("0 * * * *", "2024-01-30T22:45:10Z", 3) == Seq(
      "2024-01-30T23:00:00Z", "2024-01-31T00:00:00Z", "2024-01-31T01:00:00Z"))
  }

  test("'*/5 * * * *' (Cloudflare_Apps) fires every 5 minutes") {
    assert(fires("*/5 * * * *", "2024-01-30T22:02:00Z", 3) == Seq(
      "2024-01-30T22:05:00Z", "2024-01-30T22:10:00Z", "2024-01-30T22:15:00Z"))
  }

  test("'0 */6 * * *' (Speedtest) fires at 0/6/12/18 across midnight") {
    assert(fires("0 */6 * * *", "2024-01-30T13:00:00Z", 3) == Seq(
      "2024-01-30T18:00:00Z", "2024-01-31T00:00:00Z", "2024-01-31T06:00:00Z"))
  }

  test("'@daily' (Airflow_Cleanup) is midnight UTC, incl. month rollover") {
    assert(fires("@daily", "2024-01-31T00:00:00Z", 2) == Seq(
      "2024-02-01T00:00:00Z", "2024-02-02T00:00:00Z"))
    // a fire time exactly AT a matching instant is excluded (strictly after)
    assert(fires("@daily", "2024-02-01T00:00:00Z", 1) ==
      Seq("2024-02-02T00:00:00Z"))
  }

  test("day-of-week ranges: weekdays at 09:00") {
    // 2024-02-02 is a Friday; next fires Fri, Mon, Tue
    assert(fires("0 9 * * 1-5", "2024-02-02T09:00:00Z", 3) == Seq(
      "2024-02-05T09:00:00Z", "2024-02-06T09:00:00Z", "2024-02-07T09:00:00Z"))
    // 7 == 0 == Sunday
    assert(fires("30 6 * * 7", "2024-02-02T00:00:00Z", 1) ==
      Seq("2024-02-04T06:30:00Z"))
  }

  test("Vixie either-match: dom AND dow both restricted fires on either") {
    // "0 0 13 * 5": midnight on the 13th OR any Friday
    assert(fires("0 0 13 * 5", "2024-09-10T00:00:00Z", 3) == Seq(
      "2024-09-13T00:00:00Z", // Friday the 13th (both match)
      "2024-09-20T00:00:00Z", // Friday
      "2024-09-27T00:00:00Z"))
    // only dom restricted: dow field * does not gate
    assert(fires("0 0 13 9 *", "2024-09-01T00:00:00Z", 1) ==
      Seq("2024-09-13T00:00:00Z"))
  }

  test("'*/n' dom/dow counts as a STAR field (Vixie), not a restriction") {
    // "0 0 */2 * 1": Vixie sets DOM_STAR for any field beginning with
    // '*', so day matching is dom AND dow — only odd-numbered Mondays.
    val c = Cron.parse("0 0 */2 * 1")
    assert(c.matches(t("2026-09-07T00:00:00Z")), "Mon Sep 7 (odd dom)")
    assert(!c.matches(t("2026-09-01T00:00:00Z")),
      "Tue Sep 1 matches dom but not dow: must NOT fire (no either-match)")
    assert(!c.matches(t("2026-09-14T00:00:00Z")),
      "Mon Sep 14 matches dow but not dom: must NOT fire")
  }

  test("Feb 29 crosses the skipped century leap year (2096 -> 2104)") {
    val c = Cron.parse("0 0 29 2 *")
    assert(c.nextFire(t("2096-03-01T00:00:00Z")) == t("2104-02-29T00:00:00Z"),
      "1900-style century non-leap gaps are 8 years, not 4")
  }

  test("a tick that wakes a hair early never re-fires the same schedule slot") {
    // clock wakes 400µs BEFORE the fire (sleep truncates to millis):
    // the next tick must anchor on the previous fire, not the raw clock
    var clock = t("2024-03-01T22:58:30.000000400Z")
    val fired = scala.collection.mutable.ArrayBuffer.empty[Instant]
    graft.ops.Flow.runRecurringCron("0 * * * *", ticks = 3,
      now = () => clock,
      sleep = ms => clock = clock.plusMillis(ms))(fired += _)
    assert(fired.toSeq == Seq(t("2024-03-01T23:00:00Z"),
      t("2024-03-02T00:00:00Z"), t("2024-03-02T01:00:00Z")),
      s"each schedule slot exactly once: $fired")
  }

  test("Feb 29 resolves to the next leap year") {
    assert(fires("0 0 29 2 *", "2023-03-01T00:00:00Z", 2) == Seq(
      "2024-02-29T00:00:00Z", "2028-02-29T00:00:00Z"))
  }

  test("lists, ranges with steps, and bare-value steps parse") {
    assert(fires("0,30 8-10 * * *", "2024-01-30T08:31:00Z", 3) == Seq(
      "2024-01-30T09:00:00Z", "2024-01-30T09:30:00Z", "2024-01-30T10:00:00Z"))
    // "20/15" = from 20 to max by 15 → minutes 20, 35, 50
    assert(fires("20/15 * * * *", "2024-01-30T08:36:00Z", 3) == Seq(
      "2024-01-30T08:50:00Z", "2024-01-30T09:20:00Z", "2024-01-30T09:35:00Z"))
  }

  test("malformed expressions fail loudly, naming the expression") {
    val bad = Seq("0 * * *", "61 * * * *", "* 24 * * *", "* * 0 * *",
      "a * * * *", "*/0 * * * *", "5-1 * * * *")
    bad.foreach { e =>
      val ex = intercept[IllegalArgumentException](Cron.parse(e))
      assert(ex.getMessage.contains("cron"), s"for '$e': ${ex.getMessage}")
    }
  }

  test("date macros render Airflow-style {{ ds }} family, schedule-aware") {
    import graft.ops.Alerts
    val run = t("2024-03-01T00:00:00Z")
    // schedule-aware: prev/next are one cron interval away
    val m = Alerts.dateMacros(run, Some("0 0 * * *"))
    assert(m("ds") == "2024-03-01" && m("ds_nodash") == "20240301")
    assert(m("ts") == "2024-03-01T00:00:00Z")
    assert(m("prev_ds") == "2024-02-29", "leap-year prev interval")
    assert(m("next_ds") == "2024-03-02")
    // 6-hourly: prev fire is the same calendar day
    val m6 = Alerts.dateMacros(t("2024-03-01T12:00:00Z"), Some("0 */6 * * *"))
    assert(m6("prev_ds") == "2024-03-01" && m6("next_ds") == "2024-03-01")
    // no schedule: one-day fallback
    val md = Alerts.dateMacros(run)
    assert(md("prev_ds") == "2024-02-29" && md("next_ds") == "2024-03-02")
    // macros compose with render; explicit params win over macros
    val body = Alerts.render("run {{ dag_id }} for {{ ds }} (prev {{ prev_ds }})",
      m ++ Map("dag_id" -> "cleanup"))
    assert(body == "run cleanup for 2024-03-01 (prev 2024-02-29)")
  }

  test("predicateSql agrees with matches() minute-by-minute (both dialects)") {
    // The relational compile must be semantics-identical to the
    // imperative matcher — including the Vixie either-match dom/dow
    // rule and the 0=Sunday normalization, where the dialects differ.
    import java.time.Instant
    val exprs = Seq("0 */6 * * *", "*/5 * * * *", "0 * * * *", "@daily",
      "30 8 * * 1-5", "0 0 1,15 * 3", "15 12 */2 * *")
    val t0 = Instant.parse("2024-01-28T00:00:00Z") // spans a month edge + weekdays
    val ticks = (0 until 10080).map(i => t0.plusSeconds(i * 60L)) // one week
    exprs.foreach { ex =>
      val cron = Cron.parse(ex)
      val want = ticks.filter(cron.matches).map(_.toString).toSet
      val got = spark.createDataFrame(
          spark.sparkContext.parallelize(
            ticks.map(t => org.apache.spark.sql.Row(
              java.sql.Timestamp.from(t))), 4),
          new org.apache.spark.sql.types.StructType()
            .add("tick", org.apache.spark.sql.types.TimestampType))
        .filter(org.apache.spark.sql.functions.expr(
          cron.predicateSql("tick", "spark")))
        .collect().map(_.getTimestamp(0).toInstant.toString).toSet
      assert(got == want, s"spark dialect diverges for '$ex'")
      // DuckDB dialect differs only in dayofweek numbering (0-based).
      // Translate its dow expression into Spark's equivalent 0-based
      // form and EVALUATE it — the translated predicate must match the
      // imperative matcher too, proving the shift is the one real
      // dialect difference.
      val duckInSpark = cron.predicateSql("tick", "duckdb")
        .replace("dayofweek(tick)", "(dayofweek(tick) - 1)")
      val gotDuck = spark.createDataFrame(
          spark.sparkContext.parallelize(
            ticks.map(t => org.apache.spark.sql.Row(
              java.sql.Timestamp.from(t))), 4),
          new org.apache.spark.sql.types.StructType()
            .add("tick", org.apache.spark.sql.types.TimestampType))
        .filter(org.apache.spark.sql.functions.expr(duckInSpark))
        .collect().map(_.getTimestamp(0).toInstant.toString).toSet
      assert(gotDuck == want, s"duck dialect diverges for '$ex'")
    }
  }

  test("runRecurringCron ticks at schedule fire times with no catchup") {
    // virtual clock: starts 22:58:30, each sleep advances it; the job
    // on the first tick "runs long" past the 23:30 fire, which must be
    // SKIPPED (catchup=False) — next fire is 00:00.
    var now = t("2024-01-30T22:58:30Z")
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val fired = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = Flow.runRecurringCron("0,30 * * * *", ticks = 2, retries = 0,
      now = () => now,
      sleep = { ms => slept += ms; now = now.plusMillis(ms) }) { fireAt =>
      fired += fireAt.toString
      if (fired.size == 1) now = now.plusSeconds(45 * 60) // overrun 45 min
      fireAt
    }
    assert(out.forall(_.isSuccess))
    assert(fired.toSeq == Seq("2024-01-30T23:00:00Z", "2024-01-31T00:00:00Z"))
    assert(slept.head == 90 * 1000L, "first wait: 22:58:30 -> 23:00:00")
  }
}

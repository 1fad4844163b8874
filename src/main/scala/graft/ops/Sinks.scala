package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Util._
import graft.sources.Sources

/** Sink-side operators (SURVEY.md §2.1 K1–K6): HTTP payload
  * construction, retention delete, alert rendering, and the
  * foreachPartition writer shape.
  *
  * Payload *construction* is pure plan logic (struct/to_json/
  * collect_list) and oracle-checked; payload *delivery* is
  * [[HttpSink]]/[[RetentionSink]] — side-effecting, exercised by unit
  * tests (zero-egress environment; delivery functions are injected).
  */
object Sinks {

  // K1 — HTTP POST query-param construction (dags/Cloudflare_DDNS.py:63-74).
  def k1PostParams(spark: SparkSession, sfDir: String): DataFrame =
    Sources.ipInventorySrc(spark)
      .select(col("id"),
        when(col("id") === "racknerd", "vpn.example.com")
          .when(col("id") === "iowa", "home.example.com")
          .when(col("id") === "chicago", "office.example.com")
          .otherwise(lit(null)).as("hostname"),
        col("ipv4_address"))
      .filter(col("hostname").isNotNull)
      .select(format_string("ip=%s&hostname=%s", col("ipv4_address"),
        col("hostname")).as("params"))
      .orderBy(col("params"))
  val k1Sql: String =
    """SELECT 'ip=' || ipv4_address || '&hostname=' || hostname AS params
       FROM (SELECT CASE id WHEN 'racknerd' THEN 'vpn.example.com'
               WHEN 'iowa' THEN 'home.example.com'
               WHEN 'chicago' THEN 'office.example.com' ELSE NULL END AS hostname,
               ipv4_address
             FROM (VALUES
               ('racknerd', '203.0.113.7'), ('iowa', '198.51.100.22'),
               ('chicago', '192.0.2.40'), ('unknown', '192.0.2.9'))
             AS t(id, ipv4_address))
       WHERE hostname IS NOT NULL ORDER BY params"""

  // K2 — HTTP PATCH JSON body (cloudflare_api.py:96-103): one update
  // payload per A record.
  def k2PatchPayload(spark: SparkSession, sfDir: String): DataFrame =
    Sources.dnsRecordsSrc(spark)
      .filter(col("type") === "A")
      .select(col("id"),
        to_json(expr(
          """named_struct('content', content, 'name', name,
             'proxied', true, 'type', type,
             'comment', 'DDNS update', 'ttl', 300)""")).as("body"))
      .orderBy(col("id"))
  val k2Sql: String =
    """SELECT id, CAST(json_object('content', content, 'name', name,
         'proxied', true, 'type', type,
         'comment', 'DDNS update', 'ttl', 300) AS VARCHAR) AS body
       FROM (VALUES
         ('vpn.example.com', 'A', '203.0.113.7', 'rec-01'),
         ('vpn.example.com', 'AAAA', '2001:db8::7', 'rec-02'),
         ('home.example.com', 'A', '198.51.100.22', 'rec-03'),
         ('cdn.example.com', 'CNAME', 'edge.example.net', 'rec-04'),
         ('mail.example.com', 'A', '192.0.2.40', 'rec-05'))
       AS t(name, type, content, id)
       WHERE type = 'A' ORDER BY id"""

  // K3 — HTTP PUT list-of-structs body (cloudflare_api.py:146-156):
  // {"include":[{"ip":{"ip":x}},...],"decision":"bypass"}. collect_list
  // is bounded by policy size; sort_array makes the payload
  // deterministic under parallel collection.
  def k3PutPayload(spark: SparkSession, sfDir: String): DataFrame = {
    val ips = Sources.ipInventorySrc(spark)
    val allIps = ips.filter(col("ipv4_address").isNotNull)
      .select(col("ipv4_address").as("ip"))
      .unionByName(ips.filter(col("ipv6_address").isNotNull)
        .select(col("ipv6_address").as("ip")))
    allIps
      .agg(sort_array(collect_list(expr(
        "named_struct('ip', named_struct('ip', ip))"))).as("include"),
        count(lit(1)).as("n_ips"))
      .select(to_json(expr(
        "named_struct('include', include, 'decision', 'bypass')")).as("body"),
        col("n_ips"))
  }
  val k3Sql: String =
    """WITH ips AS (
         SELECT ipv4_address AS ip FROM (VALUES
           ('racknerd', '203.0.113.7', CAST(NULL AS VARCHAR)),
           ('iowa', '198.51.100.22', '2001:db8::22'),
           ('chicago', '192.0.2.40', '2001:db8::40'),
           ('unknown', '192.0.2.9', CAST(NULL AS VARCHAR)))
           AS t(id, ipv4_address, ipv6_address) WHERE ipv4_address IS NOT NULL
         UNION ALL
         SELECT ipv6_address FROM (VALUES
           ('racknerd', '203.0.113.7', CAST(NULL AS VARCHAR)),
           ('iowa', '198.51.100.22', '2001:db8::22'),
           ('chicago', '192.0.2.40', '2001:db8::40'),
           ('unknown', '192.0.2.9', CAST(NULL AS VARCHAR)))
           AS t(id, ipv4_address, ipv6_address) WHERE ipv6_address IS NOT NULL)
       SELECT '{"include":[' ||
         string_agg(CAST(json_object('ip', json_object('ip', ip)) AS VARCHAR),
                    ',' ORDER BY ip) ||
         '],"decision":"bypass"}' AS body,
         count(1) AS n_ips
       FROM ips"""

  // K4 — retention-delete planning with dry-run gate
  // (dags/Airflow_Cleanup.py:56-59): eligible set + what would actually
  // be removed given the env gate.
  def k4RetentionPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val dryRun = true // env != "dev" guard, fixed for determinism
    Tables.events(spark, sfDir)
      .select(format_string("/data/log_%d.log", col("event_id")).as("path"),
        (col("ts") < lit("2024-01-24 00:00:00").cast("timestamp")).as("eligible"))
      .withColumn("dry_run", lit(dryRun))
      .withColumn("will_delete", col("eligible") && !col("dry_run"))
      .orderBy(col("path"))
  }
  val k4Sql: String =
    """SELECT '/data/log_' || CAST(event_id AS VARCHAR) || '.log' AS path,
       ts < TIMESTAMP '2024-01-24 00:00:00' AS eligible,
       true AS dry_run,
       (ts < TIMESTAMP '2024-01-24 00:00:00') AND NOT true AS will_delete
       FROM events ORDER BY path"""

  // K4 EXECUTED — the retention story end-to-end (r9 verdict #7, the
  // d4_backfill_run / dedup_span_scrub / compaction_run pattern applied
  // to the delete sink): K4's eligibility predicate drives a REAL
  // vacuum over staged files, through the reference's env-gate
  // (dags/Airflow_Cleanup.py:56-59 runs the delete only when
  // env == "dev"). Two legs prove gate AND execution: a dry-run pass
  // whose post-scan shows every file survived (will_delete =
  // eligible AND NOT dry_run, identically false), then an executing
  // pass whose post-scan shows exactly the eligible set gone. The
  // staged corpus is a deterministic sample (event_id % 499) so the
  // file fan-out stays manifest-scale at every SF; deletes and file
  // creation run executor-side through the Hadoop FileSystem resolved
  // from the session conf — the cluster shape, not driver java.io.
  // Output joins the plan to both post-scans: any disagreement row
  // (file deleted under dry-run, or surviving the executed vacuum)
  // breaks the oracle hash.
  def k4RetentionRun(spark: SparkSession, sfDir: String): DataFrame = {
    val stageDir = s"${graft.Util.sessionTmpDir(spark, "graft_retain")}/" +
      graft.Util.md5Hex(sfDir)
    val serConf = graft.Util.serHadoopConf(spark)
    val sd = stageDir
    val sdPath = new org.apache.hadoop.fs.Path(sd)
    // explicit mkdirs: with an empty sample (tiny dataset) the staging
    // writes below never run and the post-scans would fail on a
    // nonexistent directory instead of returning the empty verdict
    sdPath.getFileSystem(serConf.value).mkdirs(sdPath)
    // the events scan runs ONCE (eager localCheckpoint of the
    // manifest-scale sample); staging, both vacuum legs, and the final
    // join all read the pinned rows instead of re-scanning the corpus
    val plan = Tables.events(spark, sfDir)
      .filter(col("event_id") % 499 === 0)
      .select(format_string("log_%d.log", col("event_id")).as("file"),
        (col("ts") < lit("2024-01-24 00:00:00").cast("timestamp"))
          .as("eligible"))
      .localCheckpoint(true)
    // (re)stage every scoped file — overwrite, so re-runs are idempotent
    plan.select("file").foreachPartition { it: Iterator[Row] =>
      val fs = new org.apache.hadoop.fs.Path(sd).getFileSystem(serConf.value)
      it.foreach { r =>
        val p = new org.apache.hadoop.fs.Path(sd, r.getString(0))
        // attempt-atomic: temp+rename so a speculative twin attempt
        // can never interleave with this one on the same staged file
        graft.Util.atomicCreate(fs, p)(
          _.write(r.getString(0).getBytes("UTF-8")))
      }
    }
    // the vacuum executor: delete set = eligible AND NOT dryRun — the
    // reference's env gate made data, executed per partition
    def vacuum(dryRun: Boolean): Unit =
      plan.filter(col("eligible") && lit(!dryRun)).select("file")
        .foreachPartition { it: Iterator[Row] =>
          val fs = new org.apache.hadoop.fs.Path(sd).getFileSystem(serConf.value)
          it.foreach(r =>
            fs.delete(new org.apache.hadoop.fs.Path(sd, r.getString(0)), false))
        }
    def basenames(alias: String): DataFrame =
      // eager localCheckpoint: the scan must SNAPSHOT the directory at
      // this point in the leg sequence — binaryFile re-stats its files
      // at execution time, so a lazy plan evaluated after the next
      // vacuum leg would fail on (or silently drop) deleted files.
      // The materialized rows are the sample-scale basename manifest.
      Sources.fsScan(spark, stageDir)
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("file"),
          lit(true).as(alias))
        .localCheckpoint(true)
    vacuum(dryRun = true)
    val afterDry = basenames("survived_dry")
    vacuum(dryRun = false)
    val afterExec = basenames("present")
    plan.join(afterDry, Seq("file"), "left")
      .join(afterExec, Seq("file"), "left")
      .select(col("file"), col("eligible"),
        coalesce(col("survived_dry"), lit(false)).as("survived_dry"),
        coalesce(col("present"), lit(false)).as("exists_after"))
      .orderBy(col("file"))
  }
  val k4RunSql: String =
    """SELECT 'log_' || CAST(event_id AS VARCHAR) || '.log' AS file,
       ts < TIMESTAMP '2024-01-24 00:00:00' AS eligible,
       true AS survived_dry,
       NOT (ts < TIMESTAMP '2024-01-24 00:00:00') AS exists_after
       FROM events WHERE event_id % 499 = 0 ORDER BY file"""

  // K5/D8 — templated alert rendering over the failure set
  // (dags/DNS_Requests.py:34-40): "The dag {{ dag.dag_id }} failed".
  def k5AlertRender(spark: SparkSession, sfDir: String): DataFrame =
    Sources.adguardStatusSrc(spark)
      .filter(!col("running") ||
        (!col("protection_enabled") && col("protection_disabled_duration") === 0))
      .select(format_string("The dag dns_%s failed", col("endpoint"))
        .as("alert_body"))
      .orderBy(col("alert_body"))
  val k5Sql: String =
    """SELECT 'The dag dns_' || endpoint || ' failed' AS alert_body
       FROM (VALUES
        ('adguard-1', true, true, 0), ('adguard-2', true, false, 300),
        ('adguard-3', false, true, 0), ('adguard-4', true, false, 0))
       AS t(endpoint, running, protection_enabled, protection_disabled_duration)
       WHERE NOT running OR (NOT protection_enabled
             AND protection_disabled_duration = 0)
       ORDER BY alert_body"""

  // K7 — partitioned table write, verified through the metadata it
  // leaves behind: events land day-partitioned and salted —
  // repartition(day, salt) spreads each day over up to `Salt` writer
  // tasks, so one hot day cannot become a single straggler task
  // writing the whole partition (the skew cliff of repartition(day)
  // alone), while files-per-day stays bounded (no small-file spray).
  // The read-back manifest checks per-day row counts exactly and
  // files-per-day ∈ [1, Salt]. Exercises the actual writer path
  // inside the oracle gate.
  /** The k7 writer body: salted day-partitioned parquet at `out`. */
  private def writeDayPartitioned(spark: SparkSession, sfDir: String,
      out: String, salt: Int): Unit =
    graft.Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")).cast("string"))
      .repartition(col("day"), pmod(hash(col("event_id")), lit(salt)))
      .write.partitionBy("day").mode("overwrite").parquet(out)

  def k7PartitionedWrite(spark: SparkSession, sfDir: String): DataFrame = {
    val salt = 4
    // session-scoped root (same concurrent-session race lesson as
    // k8/k9: a fixed path lets one session's overwrite race another's
    // read-back; shutdown-hook cleaned)
    val out = graft.Util.sessionTmpDir(spark, "graft_part_sink")
    writeDayPartitioned(spark, sfDir, out, salt)
    val files = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(out)
      .filter(col("path").endsWith(".parquet"))
      .select(regexp_extract(col("path"), "day=([^/]+)", 1).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_files"))
    Tables.parquet(spark, out)
      .groupBy(col("day").cast("string").as("day"))
      .agg(count(lit(1)).as("n_rows"))
      .join(files, "day")
      .select(col("day"), col("n_rows"),
        (col("n_files") >= 1 && col("n_files") <= salt).as("files_bounded"))
      .orderBy(col("day"))
  }
  val k7Sql: String =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       count(1) AS n_rows, true AS files_bounded
       FROM events GROUP BY 1 ORDER BY day"""

  // K7b — partition-PRUNED read of the day-partitioned sink: the
  // consumer half of k7's contract. A query for one day must reach
  // only that day's directory — the scan carries the day predicate as
  // a PartitionFilter (asserted plan-level in ScaleSpec) so at 100 TB
  // a daily job reads 1/365th of the table, not all of it and filter
  // later. The gate row proves the pruned read returns exactly the
  // oracle's rows for that day; the target day is the corpus minimum,
  // computed as a broadcast scalar (no driver collect).
  def k7PrunedRead(spark: SparkSession, sfDir: String): DataFrame = {
    // own dataset artifact, written once per (session, dataset
    // content). Sharing k7's dir would be doubly wrong: k7 stages
    // whichever dataset ran last, and k7's mode(overwrite) write wipes
    // the root — nesting under it would delete this copy on every k7
    // run and pollute k7's partition discovery in between.
    val out = graft.Artifacts.dir(spark, "graft_part_pruned", sfDir,
      Seq(s"$sfDir/events.parquet"))(writeDayPartitioned(spark, sfDir, _, 4))
    val target = graft.Tables.events(spark, sfDir)
      .agg(min(to_date(col("ts")).cast("string")).as("target_day"))
    graft.Artifacts.read(spark, out)
      .withColumn("day", col("day").cast("string"))
      .join(broadcast(target), col("day") === col("target_day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_distinct_ids"))
      .orderBy(col("day"))
  }
  val k7PrunedReadSql: String =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       count(1) AS n_rows, count(DISTINCT event_id) AS n_distinct_ids
       FROM events
       WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)
       GROUP BY 1 ORDER BY day"""

  // K8 — DSv2 write connector in the gate: push a projected event set
  // through JsonDirSink's two-phase commit, read the committed output
  // back, and aggregate it. The oracle aggregates the same projection
  // straight from the table — any loss, duplication, or mangling in
  // the writer protocol breaks the hash match.
  def k8Dsv2Roundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    // applicationId suffix: two concurrent sessions (e.g. parallel
    // Verify runs) each get a private staging dir — a shared fixed
    // path would let one session's recursive wipe race the other's
    // committed output (r5/r6 finding).
    // session-scoped root (shutdown-hook cleaned, r7 advice)
    val out = graft.Util.sessionTmpDir(spark, "graft_dsv2_gate")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete(); ()
    }
    val dir = new java.io.File(out)
    if (dir.exists()) wipe(dir)
    dir.mkdirs()
    Tables.events(spark, sfDir)
      .filter(col("event_id") % 10 === 0)
      .select(col("event_id"), col("event_type"),
        cents(col("value")).as("vc"))
      .write.format("graft.sources.v2.JsonDirSink")
      .option("path", out).mode("append").save()
    spark.read
      .schema("event_id LONG, event_type STRING, vc LONG")
      .json(s"$out/part-*.jsonl")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_vc"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }
  val k8Sql: String =
    """SELECT event_type, count(1) AS n,
       CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_vc,
       min(event_id) AS min_id, max(event_id) AS max_id
       FROM events WHERE event_id % 10 = 0
       GROUP BY event_type ORDER BY event_type"""

  // K9 — ORC format roundtrip: a lineitem projection written as ORC
  // (Spark's built-in columnar alternative to parquet — the format a
  // warehouse migration or a Hive-era estate hands you) and read back
  // through the ORC reader into an aggregation. The oracle aggregates
  // the same projection straight from the parquet table, so any
  // loss/mangling in the ORC writer/reader path breaks the hash.
  // Fixed-point cents keep the double column exact across the format
  // hop. Per-session output dir (same race lesson as k8).
  def k9OrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    // session-scoped root (shutdown-hook cleaned, r7 advice)
    val out = graft.Util.sessionTmpDir(spark, "graft_orc_gate")
    Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") % 7 === 0)
      .select(col("l_orderkey"), col("l_returnflag"),
        cents(col("l_extendedprice")).as("pc"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("pc")).as("sum_pc"),
        min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"))
      .orderBy(col("l_returnflag"))
  }
  val k9Sql: String =
    """SELECT l_returnflag, count(1) AS n,
       CAST(sum(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
         AS sum_pc,
       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
       FROM lineitem WHERE l_orderkey % 7 = 0
       GROUP BY 1 ORDER BY l_returnflag"""

  // K10 — XML format roundtrip on Spark 4's NATIVE xml datasource (the
  // spark-xml package folded into core): the enterprise-feed format the
  // reference's HTTP integrations would meet next. Same contract as the
  // ORC/DSv2 roundtrips — write a projection, read it back through the
  // format's own reader with a declared schema (XML is stringly typed
  // on disk), aggregate, and oracle-check against the parquet source
  // directly, so any loss or type mangling across the format hop
  // breaks the hash. Fixed-point cents keep the money column exact
  // through the string encoding. Per-session output dir (k8's race
  // lesson); overwrite mode keeps re-runs idempotent.
  def k10XmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = graft.Util.sessionTmpDir(spark, "graft_xml_gate")
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("pc"))
      .write.mode("overwrite").option("rowTag", "order")
      .format("xml").save(out)
    spark.read.format("xml").option("rowTag", "order")
      .schema("o_orderkey LONG, o_orderpriority STRING, pc LONG")
      .load(out)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("pc")).as("sum_pc"),
        min(col("o_orderkey")).as("min_ok"), max(col("o_orderkey")).as("max_ok"))
      .orderBy(col("o_orderpriority"))
  }
  val k10Sql: String =
    """SELECT o_orderpriority, count(1) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
         AS sum_pc,
       min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
       FROM orders WHERE o_orderkey % 11 = 0
       GROUP BY 1 ORDER BY o_orderpriority"""

  // K11 — parquet SCHEMA EVOLUTION read (the warehouse reader
  // contract no other gate exercises): epoch-1 files carry
  // (o_orderkey, pc), epoch-2 files add o_orderpriority; a
  // mergeSchema read reconciles both epochs into the union schema
  // with nulls for the legacy files' missing column. The aggregation
  // buckets legacy rows under 'LEGACY' via coalesce, so exactly the
  // null-filling behavior is what the oracle checks — a reader that
  // dropped legacy rows, misaligned columns, or defaulted the new
  // column to anything but null breaks the hash. Per-session dir,
  // overwrite per epoch, idempotent re-runs.
  def k11SchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val out = graft.Util.sessionTmpDir(spark, "graft_evo_gate")
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("pc"),
        col("o_orderpriority"))
    base.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("pc"))
      .write.mode("overwrite").parquet(s"$out/epoch1")
    // epoch-2 rows must carry a NON-NULL priority: the read below
    // buckets null as 'LEGACY', so a null here would collapse a
    // current-epoch row into the legacy bucket while the oracle (which
    // distinguishes epochs by key parity) would not — the filter makes
    // null ⇔ epoch-1 an enforced invariant rather than a data
    // assumption (it drops nothing on the TPC-H-ish generator)
    base.filter(col("o_orderkey") % 2 === 1 &&
        col("o_orderpriority").isNotNull)
      .write.mode("overwrite").parquet(s"$out/epoch2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$out/epoch1", s"$out/epoch2")
      .groupBy(coalesce(col("o_orderpriority"), lit("LEGACY")).as("prio"))
      .agg(count(lit(1)).as("n"), sum(col("pc")).as("sum_pc"),
        min(col("o_orderkey")).as("min_ok"), max(col("o_orderkey")).as("max_ok"))
      .orderBy(col("prio"))
  }
  val k11Sql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'LEGACY'
                   ELSE o_orderpriority END AS prio,
       count(1) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
         AS sum_pc,
       min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
       FROM orders GROUP BY 1 ORDER BY prio"""

  val queries: Map[String, QFn] = Map(
    "k11_schema_evolution" -> k11SchemaEvolution,
    "k10_xml_roundtrip" -> k10XmlRoundtrip,
    "k9_orc_roundtrip" -> k9OrcRoundtrip,
    "k8_dsv2_roundtrip" -> k8Dsv2Roundtrip,
    "k7_partitioned_write" -> k7PartitionedWrite,
    "k7_pruned_read" -> k7PrunedRead,
    "k1_post_params" -> k1PostParams,
    "k2_patch_payload" -> k2PatchPayload,
    "k3_put_payload" -> k3PutPayload,
    "k4_retention_plan" -> k4RetentionPlan,
    "k4_retention_run" -> k4RetentionRun,
    "k5_alert_render" -> k5AlertRender)

  val oracles: Map[String, String] = Map(
    "k11_schema_evolution" -> k11Sql,
    "k10_xml_roundtrip" -> k10Sql,
    "k9_orc_roundtrip" -> k9Sql,
    "k8_dsv2_roundtrip" -> k8Sql,
    "k7_partitioned_write" -> k7Sql,
    "k7_pruned_read" -> k7PrunedReadSql,
    "k1_post_params" -> k1Sql,
    "k2_patch_payload" -> k2Sql,
    "k3_put_payload" -> k3Sql,
    "k4_retention_plan" -> k4Sql,
    "k4_retention_run" -> k4RunSql,
    "k5_alert_render" -> k5Sql)
}

/** Distributed HTTP writer shape (K1–K3 delivery): payloads are sent
  * per partition by executors — the driver never materializes the
  * result set. The transport is injected so the shape is unit-testable
  * in a zero-egress environment. */
object HttpSink {
  def send(df: DataFrame, payloadCol: String)(post: String => Unit): Unit =
    df.select(payloadCol).foreachPartition { it: Iterator[Row] =>
      it.foreach(r => post(r.getString(0)))
    }
}

/** File-delete retention sink (K4, dags/Airflow_Cleanup.py:56-59) with
  * the dev-env dry-run guard. Paths are deleted on executors. */
object RetentionSink {
  def delete(eligible: DataFrame, pathCol: String, dryRun: Boolean): Long = {
    if (dryRun) eligible.count()
    else {
      val deleted = eligible.sparkSession.sparkContext.longAccumulator("deleted")
      eligible.select(pathCol).foreachPartition { it: Iterator[Row] =>
        it.foreach { r =>
          if (new java.io.File(r.getString(0)).delete()) deleted.add(1)
        }
      }
      deleted.value
    }
  }
}

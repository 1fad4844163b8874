package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.Util._

/** Config/variable store (reference: Airflow `Variable.get` with
  * defaults — dags/Speedtest.py:50-57; dynamically constructed keys
  * `f"BACKUP_{device}_HOST"` — dags/Backups.py:55; JSON-schema-validated
  * `Param`s — dags/DNS_Requests.py:28-32, read at :101).
  *
  * The store is a tiny KV table (fixtures/graft_config.jsonl). It is
  * read ONCE per (application, store path, file fingerprint) into a
  * driver-side [[snapshot]] — Spark's own JSON reader, so parsing is
  * unchanged — and every consumer serves from that snapshot, so no
  * config lookup launches a Spark job after the first:
  *
  *  - **In-plan** ([[valueRow]], [[snapshotFrame]]): one-row / store-
  *    sized local relations joined onto the data, so thresholds stay
  *    declarative and the plan is scan + broadcast at any data scale.
  *    Editing the store file changes its fingerprint, so the next
  *    construction re-reads it — a config edit, not a recompile.
  *  - **Driver-side** ([[getString]]/[[getLong]]/...): the Airflow
  *    `Variable.get(key, default)` shape for values that configure the
  *    job itself (paths, retry counts, policy compiles) rather than
  *    the data plan.
  *
  * [[Param]] mirrors the validated-params surface: typed, defaulted,
  * range/enum-checked at job start, failing fast with the offending
  * key — the `ParamValidationError` analogue.
  */
object Config {

  val configSchema: StructType = new StructType()
    .add("key", StringType, nullable = false)
    .add("value", StringType, nullable = true)

  /** The KV store as a DataFrame. Explicit schema: a malformed store
    * must fail loudly here, not downstream. */
  def store(spark: SparkSession, dir: String = Tables.FixturesDir): DataFrame =
    spark.read.schema(configSchema).json(storePath(dir))

  private def storePath(dir: String): String = s"$dir/graft_config.jsonl"

  /** The store's `(key, value)` rows in file order, collected once per
    * (application id, store path, `fileFingerprint`) — the key
    * convention of the other fingerprint-keyed session memos, so a
    * rewritten store is re-read by the next lookup and the snapshot
    * dies with the application. */
  def snapshot(spark: SparkSession,
      dir: String = Tables.FixturesDir): Seq[(String, String)] =
    snapshots(spark, Seq(storePath(dir)))(
      store(spark, dir).collect().map(r => (r.getString(0), r.getString(1)))
        .toSeq)
  private val snapshots = new FingerprintMemo[Seq[(String, String)]]

  /** The [[snapshot]] as a local relation `(key, value)`: joins and
    * filters on it plan without a file scan. */
  def snapshotFrame(spark: SparkSession,
      dir: String = Tables.FixturesDir): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      snapshot(spark, dir).map { case (k, v) => Row(k, v) }.asJava,
      new StructType().add("key", StringType).add("value", StringType))
  }

  /** The value [[valueRow]] resolves for `key`: the max of its non-null
    * values, compared as `UTF8String` the way Spark's `max` orders
    * strings, or `default` when there is none — so a duplicated key
    * resolves deterministically, matching the DuckDB oracles'
    * `max(CASE...)`. Policy compiles that turn store values into plan
    * literals use this rule, not [[getString]]'s fail-fast. */
  def resolvedValue(spark: SparkSession, key: String, default: String,
      dir: String = Tables.FixturesDir): String =
    snapshot(spark, dir)
      .collect { case (`key`, v) if v != null => UTF8String.fromString(v) }
      .reduceOption((a, b) => if (a.binaryCompare(b) >= 0) a else b)
      .map(_.toString).getOrElse(default)

  /** One-row local relation `(value)` holding [[resolvedValue]] —
    * broadcast-join this onto data instead of collecting. Note
    * [[getString]] is stricter: it fail-fasts on CONFLICTING
    * duplicates instead of picking the max — driver-side lookups want
    * the loud failure, query-side frames want a value the oracle can
    * reproduce. */
  def valueRow(spark: SparkSession, key: String, default: String,
      dir: String = Tables.FixturesDir): DataFrame =
    spark.createDataFrame(
      java.util.List.of(Row(resolvedValue(spark, key, default, dir))),
      StructType(Seq(StructField("value", StringType, nullable = false))))

  // -- driver-side Variable.get surface -----------------------------------

  /** `Variable.get(key, default)`. A key present with a null value
    * (fixture line missing the field) falls back to the default too —
    * matching [[valueRow]]'s rule, so the two surfaces agree. A key
    * present more than once with CONFLICTING values fails loudly: the
    * three lookup surfaces (this, [[valueRow]], the oracle) could
    * otherwise silently disagree on which copy wins. */
  def getString(spark: SparkSession, key: String, default: String,
      dir: String = Tables.FixturesDir): String = {
    val vals = snapshot(spark, dir).collect { case (`key`, v) => Option(v) }
    if (vals.flatten.distinct.size > 1)
      throw new IllegalStateException(
        s"config key '$key' has ${vals.size} conflicting entries: " +
          vals.flatten.distinct.mkString("'", "', '", "'"))
    vals.flatten.headOption.getOrElse(default)
  }

  def getLong(spark: SparkSession, key: String, default: Long): Long = {
    val raw = getString(spark, key, default.toString)
    try raw.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"config key '$key': expected integer, got '$raw'")
    }
  }

  def getDouble(spark: SparkSession, key: String, default: Double): Double = {
    val raw = getString(spark, key, default.toString)
    try raw.toDouble catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"config key '$key': expected number, got '$raw'")
    }
  }

  def getBool(spark: SparkSession, key: String, default: Boolean): Boolean =
    getString(spark, key, default.toString).toLowerCase match {
      case "true" | "1" | "yes"  => true
      case "false" | "0" | "no"  => false
      case other => throw new IllegalArgumentException(
        s"config key '$key': expected boolean, got '$other'")
    }

  /** Dynamic key construction, the `f"BACKUP_{device}_HOST"` shape —
    * as a Column so per-row keys resolve via a JOIN on the store, not a
    * per-row driver lookup (dags/Backups.py:55 does this in a Python
    * loop; at scale it is one broadcast hash join). */
  def dynamicKey(template: String, part: Column): Column =
    template.split("%s", -1) match {
      case Array(pre, post) => concat(lit(pre), part, lit(post))
      case parts => throw new IllegalArgumentException(
        s"dynamicKey template '$template': expected exactly one %s " +
          s"placeholder, found ${parts.length - 1}")
    }

  // -- validated params (Airflow Param) ------------------------------------

  /** A typed, schema-validated parameter. `typ` ∈ string|integer|number|
    * boolean; optional inclusive range and enum, like the JSON-schema
    * fields of the reference's Param (dags/DNS_Requests.py:28-32). */
  final case class Param(
      name: String,
      typ: String,
      default: Option[String] = None,
      min: Option[Double] = None,
      max: Option[Double] = None,
      enum: Seq[String] = Nil) {

    /** Resolve against user-supplied values; throws
      * IllegalArgumentException naming the param on any violation. */
    def resolve(given: Map[String, String]): String = {
      val raw = given.get(name).orElse(default).getOrElse(
        throw new IllegalArgumentException(s"param '$name': required, not given"))
      typ match {
        case "integer" =>
          val v = try raw.toLong catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"param '$name': expected integer, got '$raw'")
          }
          checkRange(v.toDouble)
        case "number" =>
          val v = try raw.toDouble catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"param '$name': expected number, got '$raw'")
          }
          checkRange(v)
        case "boolean" =>
          if (!Set("true", "false").contains(raw.toLowerCase))
            throw new IllegalArgumentException(
              s"param '$name': expected boolean, got '$raw'")
        case "string" => ()
        case other => throw new IllegalArgumentException(
          s"param '$name': unknown type '$other'")
      }
      if (enum.nonEmpty && !enum.contains(raw))
        throw new IllegalArgumentException(
          s"param '$name': '$raw' not in ${enum.mkString("[", ", ", "]")}")
      raw
    }

    private def checkRange(v: Double): Unit = {
      min.foreach(m => if (v < m) throw new IllegalArgumentException(
        s"param '$name': $v below minimum $m"))
      max.foreach(m => if (v > m) throw new IllegalArgumentException(
        s"param '$name': $v above maximum $m"))
    }
  }

  /** Resolve a param set; returns name → validated value. */
  def resolveParams(params: Seq[Param],
      given: Map[String, String]): Map[String, String] =
    params.map(p => p.name -> p.resolve(given)).toMap

  // -- contract queries -----------------------------------------------------

  /** `config_driven_freshness`: V1 freshness with the staleness window
    * coming from the config store instead of a compiled-in literal —
    * the `Variable.get("freshness_interval_hours")` shape. The one-row
    * lookup broadcast-cross-joins onto the aggregate, so changing the
    * window is a config edit, not a recompile, and the plan at scale is
    * unchanged (scan + groupBy + broadcast). */
  def configDrivenFreshness(spark: SparkSession, sfDir: String): DataFrame = {
    val interval = valueRow(spark, "freshness_interval_hours", "6")
      .select(col("value").cast("long").as("interval_hours"))
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"))
      .crossJoin(broadcast(interval))
      .select(
        col("user_id"),
        fmtTs(col("last_ts")).as("last_seen"),
        col("interval_hours"),
        (col("last_ts") < expr(
          s"timestampadd(HOUR, -interval_hours, TIMESTAMP '${Validate.Now}')"))
          .as("stale"))
      .orderBy(col("user_id"))
  }
  /** Oracle reads the same jsonl store (dump-time path, like the s6
    * manifest oracles). */
  def configDrivenFreshnessSql: String =
    s"""SELECT user_id,
        strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
        cfg.interval_hours,
        max(ts) < TIMESTAMP '${Validate.Now}'
                  - to_hours(cfg.interval_hours) AS stale
        FROM events CROSS JOIN (
          SELECT coalesce(CAST(max(CASE WHEN key = 'freshness_interval_hours'
                   THEN value END) AS BIGINT), 6) AS interval_hours
          FROM read_json_auto('${Tables.FixturesDir}/graft_config.jsonl',
                              format='newline_delimited')
        ) cfg
        GROUP BY user_id, cfg.interval_hours ORDER BY user_id"""

  /** `config_dynamic_key`: per-device host resolution through
    * dynamically constructed config keys (`BACKUP_{device}_HOST`,
    * dags/Backups.py:55) — reframed as a broadcast join on the
    * constructed key column, the scale shape of an f-string lookup
    * loop. Left join: devices without a config row surface with a
    * null host (the reference's KeyError case, made explicit). */
  def configDynamicKey(spark: SparkSession, sfDir: String): DataFrame = {
    val devices = spark.read
      .schema("device STRING, host STRING, port INT, enabled BOOLEAN")
      .option("header", "true").option("mode", "FAILFAST")
      .csv(s"${Tables.FixturesDir}/devices.csv")
      .withColumn("cfg_key", Config.dynamicKey("BACKUP_%s_HOST", col("device")))
    devices
      .join(broadcast(snapshotFrame(spark)), devices("cfg_key") === col("key"),
        "left")
      .select(col("device"), col("cfg_key"),
        col("value").as("backup_host"),
        col("value").isNotNull.as("configured"))
      .orderBy(col("device"))
  }
  def configDynamicKeySql: String =
    s"""SELECT d.device, 'BACKUP_' || d.device || '_HOST' AS cfg_key,
        c.value AS backup_host, c.value IS NOT NULL AS configured
        FROM read_csv_auto('${Tables.FixturesDir}/devices.csv', header=true) d
        LEFT JOIN read_json_auto('${Tables.FixturesDir}/graft_config.jsonl',
                                 format='newline_delimited') c
          ON c.key = 'BACKUP_' || d.device || '_HOST'
        ORDER BY d.device"""

  val queries: Map[String, QFn] = Map(
    "config_driven_freshness" -> configDrivenFreshness,
    "config_dynamic_key" -> configDynamicKey)

  def oracles: Map[String, String] = Map(
    "config_driven_freshness" -> configDrivenFreshnessSql,
    "config_dynamic_key" -> configDynamicKeySql)
}

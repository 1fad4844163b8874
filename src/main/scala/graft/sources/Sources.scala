package graft.sources

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HTTP JSON source family (SURVEY.md §2.1 S1–S5).
  *
  * The reference fetches JSON from REST endpoints
  * (`dags/DNS_Requests.py:48-51`, `dags/Speedtest.py:59-62`,
  * `dags/Cloudflare_Apps.py:31-48`, `dags/Cloudflare_DDNS.py:41-49`,
  * `plugins/cloudflare/cloudflare_api.py:11-30`). In this engine a fetch
  * is modeled as a *staged payload read*: an external collector lands the
  * HTTP body on storage and Spark reads it with a declared schema — the
  * idiomatic Spark shape for API data at scale (one staged file per
  * endpoint/partition; at 100 TB the staging layer shards by endpoint so
  * `spark.read.json` parallelizes across files). Auth-header construction
  * is kept as real, unit-tested logic; the network call itself is outside
  * the engine (zero-egress environment).
  */
object Auth {
  sealed trait Mode { def header: (String, String) }

  /** `Authorization: Basic <b64>` — dags/DNS_Requests.py:50. */
  final case class Basic(user: String, secret: String) extends Mode {
    def header: (String, String) = "Authorization" -> ("Basic " + Base64.getEncoder
      .encodeToString(s"$user:$secret".getBytes(StandardCharsets.UTF_8)))
  }
  /** `Authorization: Bearer <token>` — dags/Speedtest.py:60. */
  final case class Bearer(token: String) extends Mode {
    def header: (String, String) = "Authorization" -> s"Bearer $token"
  }
  /** `x-api-key: <key>` — dags/Cloudflare_Apps.py:35. */
  final case class ApiKey(key: String) extends Mode {
    def header: (String, String) = "x-api-key" -> key
  }
  case object NoAuth extends Mode {
    def header: (String, String) = "" -> ""
  }
}

/** Collector-side fetch: lands an HTTP JSON body in the staging area
  * Spark reads from. This is the boundary piece of S1–S5 — one fetch
  * per endpoint/page, fanned out by the collector, each producing one
  * staged file = one Spark input split. Timeout and status handling
  * mirror the reference (`requests.get(..., timeout=10)` +
  * `status_code != 200 ⇒ ConnectionError` — dags/Cloudflare_DDNS.py:44,
  * cloudflare_api.py:16-19). */
object HttpFetch {
  import java.net.URI
  import java.net.http.{HttpClient, HttpRequest, HttpResponse}
  import java.security.cert.X509Certificate
  import java.time.Duration
  import javax.net.ssl.{SSLContext, TrustManager, X509TrustManager}

  /** Trust-all context for `insecure = true` — the reference's
    * `requests.get(..., verify=False)` (dags/Backups.py:61,80,117:
    * self-signed certs on LAN appliances). Scoped to the one
    * connection; never a JVM-wide default. */
  private lazy val trustAllContext: SSLContext = {
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, Array[TrustManager](new X509TrustManager {
      def checkClientTrusted(cs: Array[X509Certificate], a: String): Unit = ()
      def checkServerTrusted(cs: Array[X509Certificate], a: String): Unit = ()
      def getAcceptedIssuers: Array[X509Certificate] = Array.empty
    }), new java.security.SecureRandom())
    ctx
  }

  def fetchToStaging(url: String, auth: Auth.Mode, dest: java.nio.file.Path,
      timeoutMs: Long = 10000, permissive: Boolean = false,
      insecure: Boolean = false): Boolean = {
    try {
      val body =
        if (insecure) fetchInsecure(url, auth, timeoutMs)
        else fetchStrict(url, auth, timeoutMs)
      java.nio.file.Files.writeString(dest, body)
      true
    } catch {
      case _: Exception if permissive => false // S4 soft-fail: no staged file
    }
  }

  private def fetchStrict(url: String, auth: Auth.Mode,
      timeoutMs: Long): String = {
    val client = HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(timeoutMs)).build()
    var b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(timeoutMs)).GET()
    auth match {
      case Auth.NoAuth => ()
      case m => val (k, v) = m.header; b = b.header(k, v)
    }
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} from $url")
    resp.body()
  }

  /** `verify=False` means BOTH halves of server authentication are
    * off: the trust chain AND hostname verification (a self-signed
    * appliance cert rarely carries the right SAN either). The JDK
    * HttpClient can only drop hostname verification via a JVM-global
    * system property, so the insecure path uses HttpsURLConnection,
    * where both are per-connection settings. */
  private def fetchInsecure(url: String, auth: Auth.Mode,
      timeoutMs: Long): String = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn match {
      case https: javax.net.ssl.HttpsURLConnection =>
        https.setSSLSocketFactory(trustAllContext.getSocketFactory)
        https.setHostnameVerifier((_, _) => true)
      case _ => ()
    }
    conn.setConnectTimeout(timeoutMs.toInt)
    conn.setReadTimeout(timeoutMs.toInt)
    auth match {
      case Auth.NoAuth => ()
      case m => val (k, v) = m.header; conn.setRequestProperty(k, v)
    }
    try {
      if (conn.getResponseCode != 200)
        throw new java.io.IOException(s"HTTP ${conn.getResponseCode} from $url")
      new String(conn.getInputStream.readAllBytes(),
        StandardCharsets.UTF_8)
    } finally conn.disconnect()
  }
}

/** A declared-schema JSON endpoint read from its staged payload. */
final case class HttpJsonSource(
    name: String,
    schema: StructType,
    stagedPath: String,
    auth: Auth.Mode = Auth.NoAuth,
    /** Soft-fail mode (S4, dags/Cloudflare_DDNS.py:41-49): unparseable
      * payload ⇒ null-field rows survive instead of failing the read. */
    permissive: Boolean = false) {

  def read(spark: SparkSession): DataFrame = {
    if (permissive) {
      // PERMISSIVE keeps a row per malformed line with declared fields
      // null — the Spark lift of `except requests.RequestException:
      // return None` (reference soft-fail path).
      val withCorrupt = schema.add("_corrupt_record", StringType)
      spark.read.schema(withCorrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(stagedPath)
        .withColumn("fetch_ok", col("_corrupt_record").isNull)
        .drop("_corrupt_record")
    } else {
      spark.read.schema(schema).option("mode", "FAILFAST").json(stagedPath)
    }
  }
}

object Sources {
  import graft.Tables.FixturesDir

  /** S5 — paginated-list envelope `{"result": [...], "success": true}`
    * (cloudflare_api.py:21-26,45-49,131-135): read all staged pages,
    * explode `result` to one row per record. */
  def paginated(spark: SparkSession, stagedPath: String,
      recordSchema: StructType): DataFrame = {
    val envelope = new StructType()
      .add("page", IntegerType)
      .add("success", BooleanType)
      .add("result", ArrayType(recordSchema))
    spark.read.schema(envelope).json(stagedPath)
      .select(col("page"), col("success"), explode(col("result")).as("rec"))
      .select(col("page"), col("success"), col("rec.*"))
  }

  /** S6 — recursive filesystem scan (dags/Airflow_Cleanup.py:45-54).
    * binaryFile gives (path, modificationTime, length) without reading
    * file bodies when `content` is pruned away. */
  def fsScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("modificationTime"), col("length"))

  /** S7 — disk-usage probe (dags/Airflow_Cleanup.py:62-63). A scalar
    * driver-side metric, exposed as a 1-row DataFrame for uniformity. */
  def diskUsage(spark: SparkSession, dir: String): DataFrame = {
    val store = java.nio.file.Files.getFileStore(java.nio.file.Paths.get(dir))
    val total = store.getTotalSpace
    val free = store.getUsableSpace
    import spark.implicits._
    Seq((dir, total, total - free, free)).toDF("dir", "total", "used", "free")
  }

  // Declared payload schemas (FIXTURES.md §A) ------------------------------

  /** A1 AdGuard status — dags/DNS_Requests.py:49-95. */
  val adguardStatus: StructType = new StructType()
    .add("endpoint", StringType)
    .add("running", BooleanType)
    .add("protection_enabled", BooleanType)
    .add("protection_disabled_duration", LongType)

  /** A2 AdGuard querylog oldest-entry — dags/DNS_Requests.py:108-136. */
  val querylog: StructType = new StructType()
    .add("client", StringType)
    .add("oldest", StringType)

  /** A3 Home Assistant states — dags/Speedtest.py:59-89. */
  val haStates: StructType = new StructType()
    .add("entity_id", StringType)
    .add("state", StringType)

  /** A4 Syncthing health — dags/Backups.py:58-63. */
  val health: StructType = new StructType()
    .add("device", StringType)
    .add("status", StringType)

  /** A5 Syncthing folder config — dags/Backups.py:77-101. */
  val folders: StructType = new StructType()
    .add("device", StringType)
    .add("label", StringType)
    .add("paused", BooleanType)

  /** A6 Syncthing folder stats (map keyed by folder id) —
    * dags/Backups.py:110-139. */
  val folderStats: StructType = new StructType()
    .add("device", StringType)
    .add("folders", MapType(StringType,
      new StructType().add("lastScan", StringType)))

  /** A7 IP inventory — dags/Cloudflare_Apps.py:31-48. */
  val ipInventory: StructType = new StructType()
    .add("id", StringType)
    .add("ipv4_address", StringType)
    .add("ipv6_address", StringType)

  /** A8 Cloudflare record shapes — plugins/cloudflare/cloudflare_api.py. */
  val cfZone: StructType = new StructType()
    .add("name", StringType).add("id", StringType)
  val cfDnsRecord: StructType = new StructType()
    .add("name", StringType).add("type", StringType)
    .add("content", StringType).add("id", StringType)
  val cfPolicy: StructType = new StructType()
    .add("name", StringType).add("id", StringType)
  val cfAck: StructType = new StructType()
    .add("record", StringType).add("success", BooleanType)

  /** A9 ipify — dags/Cloudflare_DDNS.py:42-46. */
  val ipify: StructType = new StructType().add("ip", StringType)

  /** V8 HTTP status-guard fixture. */
  val httpStatus: StructType = new StructType()
    .add("endpoint", StringType).add("status_code", IntegerType)

  // Fixture-backed sources -------------------------------------------------

  def adguardStatusSrc(spark: SparkSession): DataFrame =
    HttpJsonSource("adguard_status", adguardStatus,
      s"$FixturesDir/a1_status.jsonl",
      Auth.Basic("admin", "secret")).read(spark)

  def querylogSrc(spark: SparkSession): DataFrame =
    HttpJsonSource("adguard_querylog", querylog,
      s"$FixturesDir/a2_querylog.jsonl",
      Auth.Basic("admin", "secret")).read(spark)

  def haStatesSrc(spark: SparkSession): DataFrame =
    HttpJsonSource("ha_states", haStates,
      s"$FixturesDir/a3_ha_states.json",
      Auth.Bearer("token")).read(spark)

  def healthSrc(spark: SparkSession): DataFrame =
    HttpJsonSource("syncthing_health", health,
      s"$FixturesDir/a4_health.jsonl",
      Auth.Bearer("token")).read(spark)

  def foldersSrc(spark: SparkSession): DataFrame =
    HttpJsonSource("syncthing_folders", folders,
      s"$FixturesDir/a5_folders.json",
      Auth.Bearer("token")).read(spark)

  def folderStatsSrc(spark: SparkSession): DataFrame =
    HttpJsonSource("syncthing_folder_stats", folderStats,
      s"$FixturesDir/a6_folder_stats.jsonl",
      Auth.Bearer("token")).read(spark)

  def ipInventorySrc(spark: SparkSession): DataFrame =
    HttpJsonSource("ip_inventory", ipInventory,
      s"$FixturesDir/a7_ips.json",
      Auth.ApiKey("key")).read(spark)

  def zonesSrc(spark: SparkSession): DataFrame =
    paginated(spark, s"$FixturesDir/a8_zones.jsonl", cfZone)

  def dnsRecordsSrc(spark: SparkSession): DataFrame =
    paginated(spark, s"$FixturesDir/a8_dns_records.jsonl", cfDnsRecord)

  def policiesSrc(spark: SparkSession): DataFrame =
    paginated(spark, s"$FixturesDir/a8_policies.jsonl", cfPolicy)

  def ackSrc(spark: SparkSession): DataFrame =
    HttpJsonSource("cf_ack", cfAck, s"$FixturesDir/a8_ack.jsonl").read(spark)

  def httpStatusSrc(spark: SparkSession): DataFrame =
    HttpJsonSource("http_status", httpStatus,
      s"$FixturesDir/http_status.jsonl").read(spark)

  /** S4 soft-fail source over a deliberately corrupt staged payload. */
  def ipifyPermissiveSrc(spark: SparkSession): DataFrame =
    HttpJsonSource("ipify6", ipify, s"$FixturesDir/s4_corrupt.txt",
      permissive = true).read(spark)
}

package graft.sources.v2

import java.net.{URI, URLEncoder}
import java.util

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** LIVE-fetch DataSource V2 connector: the production path of
  * SURVEY.md §2.1 S1–S5, where the fetch itself IS the scan.
  *
  * The reference fans one task instance out per client and fetches
  * `querylog?search={client}&limit=1` per instance
  * (dags/DNS_Requests.py:108,139). This connector is that shape as a
  * Spark scan: `planInputPartitions` emits ONE partition per client,
  * and each partition's reader performs the HTTP GET on the executor
  * through an injected transport — so a 1000-endpoint fan-out is 1000
  * parallel fetches across the cluster, not a driver loop. Pushed
  * equality filters and LIMIT are rendered into the request URL as
  * query params (`attr=value`, `limit=n`) — the server prunes, exactly
  * like the reference's `search`/`limit` params — and are re-applied
  * reader-side so correctness never depends on the server honoring
  * them.
  *
  * Usage:
  *   spark.read.format("graft.sources.v2.LiveHttpSource")
  *     .option("url", "https://dns.example.com/querylog")
  *     .option("clients", "iowa|chicago")      // '|'-list, one partition each
  *     .option("clientParam", "search")        // param carrying the client
  *     .option("schemaDDL", "client STRING, oldest STRING")
  *     .option("authMode", "basic")            // basic|bearer|apikey|none
  *     .option("user", "admin").option("secret", "***")
  *     .load()
  *
  * `transport` selects the HTTP implementation (default `jdk`); tests
  * register alternates via [[LiveTransports.register]] — the seam where
  * a cluster deployment injects pooled clients, proxies, or rate
  * limiting. `permissive=true` gives the S4 soft-fail semantics: a
  * failed endpoint contributes zero rows instead of failing the scan
  * (per-item isolation, the reference's per-mapped-instance failure
  * boundary).
  */
class LiveHttpSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType.fromDDL(options.get("schemaDDL"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new java.util.HashMap[String, String](properties)
    new LiveHttpTable(schema, opts)
  }
  override def supportsExternalMetadata(): Boolean = true
}

/** Executor-side HTTP transport. Implementations must be stateless or
  * thread-safe: one instance serves all partitions on an executor. */
trait LiveTransport extends Serializable {
  /** GET `url` with `headers`; returns the body, throws on failure. */
  def fetch(url: String, headers: Map[String, String], timeoutMs: Long): String
}

/** Default transport: JDK HttpClient, non-200 ⇒ IOException (V8 status
  * guard at the source boundary — cloudflare_api.py:16-19). ONE client
  * per executor (HttpClient is thread-safe and pools connections) —
  * per-fetch construction would rebuild the pool and forfeit
  * keep-alive on every poll of a large endpoint fan-out. The
  * per-request timeout stays per-request via HttpRequest.timeout;
  * only the connect timeout is fixed at client construction. */
object JdkTransport extends LiveTransport {
  @transient private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()
  def fetch(url: String, headers: Map[String, String],
      timeoutMs: Long): String = {
    var b = java.net.http.HttpRequest.newBuilder(URI.create(url))
      .timeout(java.time.Duration.ofMillis(timeoutMs)).GET()
    headers.foreach { case (k, v) => b = b.header(k, v) }
    val resp = client.send(b.build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} from $url")
    resp.body()
  }
}

/** Transport registry: DSv2 options are strings, so transports are
  * injected by name. `jdk` is always present. */
object LiveTransports {
  private val registry = scala.collection.concurrent.TrieMap[String, LiveTransport](
    "jdk" -> JdkTransport)
  def register(name: String, t: LiveTransport): Unit = registry.put(name, t)
  def apply(name: String): LiveTransport = registry.getOrElse(name,
    throw new IllegalArgumentException(s"unknown transport '$name'; " +
      s"registered: ${registry.keys.toSeq.sorted.mkString(", ")}"))
}

class LiveHttpTable(schema: StructType, options: java.util.Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"live_http(${options.get("url")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new LiveHttpScanBuilder(schema, options)
}

class LiveHttpScanBuilder(schema: StructType,
    options: java.util.Map[String, String]) extends HttpScanBuilder(schema) {
  override def build(): Scan =
    new LiveHttpScan(schema, options, pushed, pushedLimit)
}

class LiveHttpScan(schema: StructType, options: java.util.Map[String, String],
    filters: Array[Filter], limit: Int) extends Scan with Batch {

  private def opt(k: String, dflt: String): String = {
    val v = options.get(k); if (v == null) dflt else v
  }
  private def required(k: String): String = {
    val v = options.get(k)
    require(v != null, s"LiveHttpSource: option '$k' is required")
    v
  }

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"LiveHttpScan(url=${opt("url", "?")}, " +
      s"clients=${opt("clients", "")}, " +
      s"pushedFilters=${filters.mkString(",")}, pushedLimit=$limit)"

  /** The fan-out: one partition per client (`.expand(client=clients)`,
    * dags/DNS_Requests.py:139), each carrying its fully rendered
    * request URL — pushed filters and limit included as query params. */
  override def planInputPartitions(): Array[InputPartition] = {
    val base = required("url")
    val clientParam = opt("clientParam", "search")
    val clients = opt("clients", "")
    val eqParams = filters.collect { case EqualTo(a, v: String) => a -> v }
    val limitParam = if (limit >= 0) Seq("limit" -> limit.toString) else Nil
    def render(params: Seq[(String, String)]): String =
      if (params.isEmpty) base
      // a base URL may legitimately carry its own query string (server
      // feature flags like include_total=1) — extend it, don't break it
      else base + (if (base.contains("?")) "&" else "?") + params.map {
        case (k, v) =>
          s"${URLEncoder.encode(k, "UTF-8")}=${URLEncoder.encode(v, "UTF-8")}"
      }.mkString("&")
    // Page-size param (e.g. per_page=50) is static per request; the
    // page CURSOR itself is appended by the reader as it walks.
    val sizeParam = (opt("pageSizeParam", ""), opt("pageSize", "")) match {
      case (p, n) if p.nonEmpty && n.nonEmpty => Seq(p -> n)
      case _ => Nil
    }
    val targets =
      if (clients.isEmpty) Array(render(eqParams ++ limitParam ++ sizeParam))
      else clients.split("\\|").map(c =>
        render((clientParam -> c) +: (eqParams ++ limitParam ++ sizeParam)))
    targets.map(u => LiveEndpointPartition(u): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val headers: Map[String, String] = opt("authMode", "none") match {
      case "basic" => Map(graft.sources.Auth.Basic(
        required("user"), required("secret")).header)
      case "bearer" => Map(graft.sources.Auth.Bearer(required("token")).header)
      case "apikey" => Map(graft.sources.Auth.ApiKey(required("key")).header)
      case "none" => Map.empty
      case other => throw new IllegalArgumentException(
        s"LiveHttpSource: unknown authMode '$other'")
    }
    // Short-page termination is armed ONLY when the page size was
    // actually COMMUNICATED to the server (pageSizeParam rendered into
    // the URL): a pageSize the server never saw — or a server that
    // clamps per_page below it — would otherwise read every page as
    // "short" and stop after page 1. Against a clamping server, set
    // pageSize to the server's REAL page length.
    val shortPageSize =
      if (opt("pageSizeParam", "").nonEmpty) opt("pageSize", "0").toLong
      else 0L
    new LiveHttpReaderFactory(schema, filters, limit, headers,
      opt("transport", "jdk"), opt("timeoutMs", "10000").toLong,
      opt("permissive", "false").toBoolean,
      PageWalk(opt("pageParam", ""), opt("pageStart", "1").toLong,
        shortPageSize, opt("maxPages", "10000").toLong,
        opt("totalPagesField", "")))
  }

  /** Streaming facet: each micro-batch is one POLL ROUND over the
    * endpoint fan-out — the reference's cron-scheduled fetch DAG as a
    * Structured Streaming source (trigger interval = the schedule).
    * Offsets count poll rounds; batch (start, end] re-plans the same
    * per-client partitions once per round and the readers fetch LIVE
    * at execution time. Downstream watermarks/dedup handle re-observed
    * rows exactly as they do for any at-least-once source. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LiveHttpMicroBatchStream(this)
}

case class PollOffset(poll: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"poll":$poll}"""
}

class LiveHttpMicroBatchStream(scan: LiveHttpScan)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  private val polled = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Trigger.AvailableNow contract: stop after exactly one more poll.
    * The cap is RESOLVED LAZILY at the first latestOffset() call, not
    * in prepareForTriggerAvailableNow — the engine invokes the latter
    * during plan init, BEFORE restored offsets are deserialized, and a
    * cap taken from the process-local counter at that point would land
    * below a restarted query's committed start offset. By the first
    * latestOffset() the counter has been fast-forwarded. */
  @volatile private var availableNowPending: Boolean = false
  @volatile private var availableNowCap: Long = Long.MaxValue

  override def initialOffset(): org.apache.spark.sql.connector.read.streaming.Offset =
    PollOffset(0L)
  override def latestOffset(): org.apache.spark.sql.connector.read.streaming.Offset = {
    if (availableNowPending) synchronized {
      if (availableNowPending) {
        availableNowCap = polled.get() + 1
        availableNowPending = false
      }
    }
    PollOffset(math.min(polled.incrementAndGet(), availableNowCap))
  }
  /** Admission-control variant (SupportsTriggerAvailableNow extends
    * SupportsAdmissionControl): a poll round is atomic — limits don't
    * subdivide it. */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    latestOffset()
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowPending = true
  override def reportLatestOffset(): org.apache.spark.sql.connector.read.streaming.Offset =
    PollOffset(polled.get())
  override def deserializeOffset(json: String)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val restored = """"poll"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"bad offset: $json"))
    // Checkpoint restart: the poll counter is process-local and starts
    // at 0, so fast-forward it to the restored offset — otherwise
    // latestOffset() would regress below the committed start and the
    // stream would sit idle until the counter caught back up.
    polled.updateAndGet(c => math.max(c, restored))
    PollOffset(restored)
  }

  /** One fetch round per poll in (start, end] — normally exactly one. */
  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[PollOffset].poll
    val e = end.asInstanceOf[PollOffset].poll
    val perRound = scan.planInputPartitions()
    (s until e).toArray.flatMap(_ => perRound)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()
  override def commit(
      end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

case class LiveEndpointPartition(url: String) extends InputPartition

/** Page-cursor walk config. `param` empty ⇒ single-fetch (no walk).
  * `size` > 0 enables short-page termination: a page carrying fewer
  * rows than `size` must be the last (the reference's Cloudflare
  * helpers page `result` arrays the same way —
  * plugins/cloudflare/cloudflare_api.py:120-137); an EMPTY page always
  * terminates. `maxPages` is the runaway-server backstop.
  * `totalPagesField` (dotted path, e.g. "result_info.total_pages")
  * arms METADATA-driven termination: a response line where the path
  * resolves is consumed as the Cloudflare-style `result_info` envelope
  * rather than a row, and the walk stops after that many pages without
  * probing past the end — one fewer wasted fetch than the empty-page
  * probe when the last page is full. */
case class PageWalk(param: String, start: Long, size: Long, maxPages: Long,
    totalPagesField: String = "") {
  def enabled: Boolean = param.nonEmpty
}

class LiveHttpReaderFactory(schema: StructType, filters: Array[Filter],
    limit: Int, headers: Map[String, String], transportName: String,
    timeoutMs: Long, permissive: Boolean, pages: PageWalk)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new LiveHttpReader(schema, filters, limit, headers, transportName,
      timeoutMs, permissive, pages,
      p.asInstanceOf[LiveEndpointPartition].url)
}

/** Executor-side reader: ONE fetch per partition (= per endpoint),
  * then JSONL decode against the declared schema. Pushed filters and
  * limit are re-applied locally so a server that ignores its params
  * cannot change results. */
class LiveHttpReader(schema: StructType, filters: Array[Filter], limit: Int,
    headers: Map[String, String], transportName: String, timeoutMs: Long,
    permissive: Boolean, pages: PageWalk, url: String)
    extends JsonLinesReader(schema, filters, limit) {
  private def fetchStrict(u: String): Seq[String] =
    LiveTransports(transportName).fetch(u, headers, timeoutMs)
      .linesIterator.filter(_.trim.nonEmpty).toSeq

  /** Resolve the dotted `totalPagesField` path against an already
    * PARSED line; Some(n) iff every segment exists and the leaf is
    * numeric. Takes the JsonNode, not the raw string, so the walk
    * parses each response line exactly once (meta classification and
    * value extraction share the parse). */
  private def totalPagesOf(parsed: JsonNode): Option[Long] =
    try {
      var node: JsonNode = parsed
      pages.totalPagesField.split("\\.").foreach { seg =>
        node = if (node == null) null else node.get(seg)
      }
      if (node != null && node.isNumber) Some(node.asLong()) else None
    } catch { case _: Exception => None }

  private def parseQuiet(line: String): Option[JsonNode] =
    try Option(mapper.readTree(line)) catch { case _: Exception => None }

  /** The lazy page walk: fetch `pageParam=N`, N from `pageStart`;
    * terminates on an empty page, a page shorter than `pageSize`
    * (when armed), the server's declared `total_pages` (when
    * `totalPagesField` is armed and a metadata line carries it), or
    * the `maxPages` backstop. Metadata lines are consumed, never
    * emitted as rows. Fetch failures PROPAGATE — the caller decides
    * the failure contract. */
  private def pageIter(): Iterator[String] = new Iterator[String] {
    private val sep = if (url.contains("?")) "&" else "?"
    private var page = pages.start
    private var done = false
    private var cur: Iterator[String] = Iterator.empty
    private def advance(): Unit =
      while (!done && !cur.hasNext) {
        if (page - pages.start >= pages.maxPages) done = true
        else {
          val got = fetchStrict(s"$url$sep${pages.param}=$page")
          page += 1
          // one parse per line: classify meta vs row on the parsed
          // node, extracting the declared page count in the same pass
          val (metaVals, rows) =
            if (pages.totalPagesField.isEmpty) (Seq.empty[Long], got)
            else {
              val tagged = got.map(l =>
                (l, parseQuiet(l).flatMap(totalPagesOf)))
              (tagged.flatMap(_._2), tagged.collect { case (l, None) => l })
            }
          // the declared page count stops the walk WITHOUT probing past
          // the end (page already advanced past the one just fetched)
          metaVals.headOption.foreach { tp =>
            if (page - pages.start >= tp) done = true
          }
          if (rows.isEmpty) done = true
          else {
            cur = rows.iterator
            // short page ⇒ serve it, then stop without re-fetching
            if (pages.size > 0 && rows.size < pages.size) done = true
          }
        }
      }
    override def hasNext: Boolean = { advance(); cur.hasNext }
    override def next(): String = { advance(); cur.next() }
  }

  /** Executor-side fetch. Strict + paged walks LAZILY — a pushed LIMIT
    * satisfied by page 1 never requests page 2, and a failed page
    * fails the task (all-or-nothing via query failure). Permissive +
    * paged walks EAGERLY: lazy emission cannot recall pages already
    * served when a LATER page fails, so the S4 contract ("this
    * endpoint contributes nothing; others proceed") is preserved by
    * materializing the walk up front and dropping the WHOLE endpoint
    * on any page failure — partial data must never masquerade as
    * complete (r7 review finding). Without a pageParam this is the
    * single fetch of round 6.
    *
    * MEMORY BOUND (permissive + paged): the eager walk SPOOLS to
    * executor-local disk — heap holds one page at a time; the spool
    * file becomes the row source only after the LAST page commits, so
    * any page failure still drops the whole endpoint (nothing was
    * emitted yet) and partial data never masquerades as complete.
    * Pre-r9 this buffered the entire endpoint (maxPages × pageSize
    * lines) in task heap. */
  private def spooledWalk(): Iterator[String] = {
    val tmp = java.nio.file.Files.createTempFile("graft_live_spool", ".jsonl")
    tmp.toFile.deleteOnExit() // backstop for a never-exhausted iterator
    try {
      val w = java.nio.file.Files.newBufferedWriter(
        tmp, java.nio.charset.StandardCharsets.UTF_8)
      try {
        val it = pageIter()
        while (it.hasNext) { w.write(it.next()); w.newLine() }
      } finally w.close()
      LiveHttpReader.spooledFiles.incrementAndGet()
      LiveHttpReader.spooledBytes.addAndGet(java.nio.file.Files.size(tmp))
      val rd = java.nio.file.Files.newBufferedReader(
        tmp, java.nio.charset.StandardCharsets.UTF_8)
      new Iterator[String] {
        private var nextLine: String = rd.readLine()
        private var open = true
        override def hasNext: Boolean = {
          if (open && nextLine == null) {
            rd.close(); java.nio.file.Files.deleteIfExists(tmp); open = false
          }
          nextLine != null
        }
        override def next(): String = {
          val l = nextLine; nextLine = rd.readLine(); l
        }
      }
    } catch {
      case _: Exception =>
        java.nio.file.Files.deleteIfExists(tmp)
        Iterator.empty
    }
  }

  override protected lazy val lines: Iterator[String] =
    if (!pages.enabled)
      try fetchStrict(url).iterator
      catch { case _: Exception if permissive => Iterator.empty }
    else if (permissive) spooledWalk()
    else pageIter()

  /** Temporal parses are the only THROWING coercion in a row's decode
    * (the Jackson asLong/asText paths never throw) — in S4 permissive mode
    * a malformed event time nulls the FIELD instead of failing the
    * task, preserving "this endpoint contributes nothing; others
    * proceed" at field granularity. Strict mode surfaces the parse
    * error with the offending value named. */
  private def temporal(raw: String)(parse: => Any): Any =
    try parse catch {
      case e: java.time.format.DateTimeParseException =>
        if (permissive) null
        else throw new IllegalArgumentException(
          s"unparseable temporal value '$raw'", e)
    }

  /** TIMESTAMP and DATE fields, on top of the shared scalar cases. */
  override protected def decodeOther(dt: DataType, n: JsonNode): Any =
    dt match {
      case TimestampType => temporal(n.asText()) {
        // ISO-8601 with offset — both the reference's
        // "+00:00"-suffixed payloads and plain "Z" instants
        val i = java.time.OffsetDateTime.parse(n.asText()).toInstant
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      }
      case DateType => temporal(n.asText())(
        java.time.LocalDate.parse(n.asText()).toEpochDay.toInt)
      case _ => super.decodeOther(dt, n)
    }

  override def close(): Unit = ()
}

/** Test-visible evidence that the permissive paged walk spools to
  * executor-local disk instead of buffering the endpoint in heap:
  * successful walks bump these counters with the spool file's size. */
object LiveHttpReader {
  val spooledFiles = new java.util.concurrent.atomic.AtomicLong(0L)
  val spooledBytes = new java.util.concurrent.atomic.AtomicLong(0L)
}

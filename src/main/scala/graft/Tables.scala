package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every query goes through these so that at cluster scale the scan
  * config (pushdown, partition discovery) is set in exactly one place.
  */
object Tables {
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Schema-declared parquet read. A schema-less `spark.read.parquet`
    * runs a footer-inference Spark job every time a DataFrame is
    * constructed; here Spark's own inferred schema is memoised per
    * (application, paths, file fingerprint) and handed back through
    * `read.schema(..)`, so a repeated read plans without a job while a
    * rewritten dataset is re-inferred. Every parquet read under
    * `graft.ops`/`graft.streaming` goes through this (TablesSpec's
    * source scan enforces it). */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val schema = parquetSchemas(spark, paths)(
      spark.read.parquet(paths: _*).schema)
    spark.read.schema(schema).parquet(paths: _*)
  }
  private val parquetSchemas = new Util.FingerprintMemo[StructType]

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")

  /** FABRICATED `partsupp` dimension (r17): the driver testdata ships
    * no partsupp table (TESTDATA.md), so the TPC-H Q2/Q11 shapes
    * derive it deterministically — 4 supplier links per part, keys,
    * quantities and costs all INTEGER arithmetic over `p_partkey`
    * that DuckDB replays exactly ([[PartsuppSqlCte]]). Shape at any
    * scale: 4·|part| rows from ONE part-dim scan crossJoined with a
    * broadcast 4-row literal — never a shuffle; the two scalars
    * (|supplier|, its quarter-step) are dimension-table counts,
    * bounded and memoized per supplier fingerprint — one count()
    * job per session, not one per Q2/Q11 run (r17 verdict #7). The
    * suppkey stride (|S|/4 + 1) gives each part 4 DISTINCT suppliers
    * at every shipped supplier count; the distinctness is NOT
    * universal (i·step collides mod nSup when 4·step ≡ 0, e.g.
    * nSup = 4 or 12 — r17 advice), so the build REQUIRES it loudly
    * instead of silently shrinking Q2's fan-in. The 997-stride cost
    * term gives each part 4 DISTINCT costs, so Q2's per-part min-cost
    * supplier is unique and both engines agree without tie rules.
    * Costs are integer CENTS (the cents/e4 parity rule in [[Util]]). */
  private val nSupCache = new Util.FingerprintMemo[Long]
  def partsupp(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    val nSup = nSupCache(s, Seq(s"$d/supplier.parquet"))(supplier(s, d).count())
    val step = nSup / 4 + 1
    require((0 until 4).map(i => (i * step) % nSup).distinct.size == 4,
      s"partsupp stride degenerate at |supplier|=$nSup: a part's 4 " +
        "supplier links would collide and silently shrink Q2/Q11 fan-in")
    val quad = s.range(0, 4).select(col("id").as("i"))
    part(s, d).select(col("p_partkey"))
      .crossJoin(broadcast(quad))
      .select(col("p_partkey").as("ps_partkey"),
        ((col("p_partkey") * lit(13L) + col("i") * lit(step)) % lit(nSup))
          .as("ps_suppkey"),
        ((col("p_partkey") * lit(7L) + col("i") * lit(13L)) % lit(9999L) +
          lit(1L)).as("ps_availqty"),
        ((col("p_partkey") * lit(7919L) + col("i") * lit(997L)) %
          lit(99001L) + lit(100L)).as("ps_cost_cents"))
  }

  /** DuckDB twin of [[partsupp]], as a WITH-clause member body —
    * oracles prepend it as `WITH $PartsuppSqlCte, ...`. The supplier
    * count is a scalar subquery where the Spark side embeds the
    * counted literal; `//` is DuckDB integer division matching the
    * Scala `/` on Long. */
  val PartsuppSqlCte: String =
    """partsupp AS (
         SELECT p_partkey AS ps_partkey,
           (p_partkey * 13 + i.i *
             ((SELECT count(1) FROM supplier) // 4 + 1))
             % (SELECT count(1) FROM supplier) AS ps_suppkey,
           (p_partkey * 7 + i.i * 13) % 9999 + 1 AS ps_availqty,
           (p_partkey * 7919 + i.i * 997) % 99001 + 100 AS ps_cost_cents
         FROM part CROSS JOIN (VALUES (0), (1), (2), (3)) AS i(i))"""
  /** events.ts arrives as parquet INT64 timestamps whose precision has
    * varied across driver testdata generations: TIMESTAMP(NANOS)
    * (which Spark 4 refuses to read as TimestampType) and
    * TIMESTAMP(MICROS). Read the raw INT64 via an explicit schema
    * (works under any session config, any annotation) and normalize to
    * µs. LAST-RESORT normalization is by magnitude, three tiers:
    * |ts| ≥ 1e17 can only be nanoseconds (1e17 µs is year 5138; 1e17
    * ns is 1973-03), 1e14 ≤ |ts| < 1e17 is microseconds (1e14 µs is
    * 1973-03; 1e14 ms is year 5138), |ts| < 1e14 is milliseconds —
    * so ANY of ns/µs/ms epochs after ~1973-03 route correctly even
    * when the annotation is unavailable (the r7 advice case: a stream
    * DECLARED before its files are staged bakes this fallback into the
    * plan, and a late-arriving MILLIS file must still read right).
    * Integer arithmetic only, never double (ns epochs exceed 2^53).
    * The blind spots left are epochs before 1973-03 in ns/µs (r6
    * advice — covered by the annotation path) and second-precision
    * epochs, which no parquet writer annotates. */
  val TsToMicrosSql: String =
    """(CASE WHEN abs(ts) >= 100000000000000000 THEN ts div 1000
             WHEN abs(ts) >= 100000000000000 THEN ts
             ELSE ts * 1000 END)"""

  /** µs-normalization SQL for the raw INT64 `ts` of the events table
    * under `dir`, from the parquet TIMESTAMP annotation (NANOS/MICROS/
    * MILLIS — read once from the first part file's footer, memoized
    * per directory) with [[TsToMicrosSql]]'s magnitude heuristic as
    * the unannotated-INT64 fallback. */
  def tsToMicrosSql(dir: String): String =
    tsToMicrosSqlAt(s"$dir/events.parquet")

  /** Same, for a path that IS the parquet file/part-dir itself (the
    * streaming sources' staged dirs). The directory is re-listed on
    * EVERY call and the footer sniff is memoized per part-file
    * (path, length, mtime) — so a re-staged file with different
    * precision invalidates its cache entry instead of serving a stale
    * unit. NOTE the expression is resolved at DataFrame-CONSTRUCTION
    * time — batch readers plan when their files exist, so this is
    * fine; STREAMING readers must use
    * [[graft.functions.TsExpr.tsToMicrosLazy]], which defers the same
    * mode lookup to task runtime so a stream declared before any files
    * land still normalizes by the annotation of files staged later
    * (the r8 item #4 case).
    * Only the first part file (by name) is consulted: a directory
    * accumulating MIXED-annotation files is normalized by that file's
    * unit — don't do that. */
  def tsToMicrosSqlAt(path: String): String =
    tsUnitModeAt(path) match {
      case 1 => "(ts div 1000)"
      case 2 => "ts"
      case 3 => "(ts * 1000)"
      case _ => TsToMicrosSql
    }

  /** Normalization mode of the CURRENT first part file under `path`:
    * 1 = NANOS, 2 = MICROS, 3 = MILLIS (from the parquet footer
    * annotation, memoized per file identity), 0 = magnitude fallback
    * (nothing staged, no ts field, or unannotated INT64). */
  private[graft] def tsUnitModeAt(path: String): Int =
    partFile(path) match {
      case None => 0 // nothing staged yet — nothing to lock in
      case Some(f) =>
        val key = s"${f.getAbsolutePath}:${f.length}:${f.lastModified}"
        tsUnitCache.getOrElseUpdate(key, sniffTsMode(f.getPath)).getOrElse(0)
    }

  private val tsUnitCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[Int]]

  /** First parquet part file under `path` (or `path` itself if a file). */
  private def partFile(path: String): Option[java.io.File] = {
    val root = new java.io.File(path)
    if (root.isFile) Some(root)
    else Option(root.listFiles()).flatMap(_.filter(f =>
      f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).headOption)
  }

  /** The µs-normalization mode the parquet footer's `ts` annotation
    * dictates (1/2/3 = NANOS/MICROS/MILLIS), or None when the file/
    * field/annotation is absent (caller falls back to the magnitude
    * heuristic). `path` may be a single parquet file or a directory of
    * part files. */
  private[graft] def sniffTsMode(path: String): Option[Int] = try {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    partFile(path).flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        if (!schema.containsField("ts")) None
        else schema.getType(schema.getFieldIndex("ts"))
            .getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            if (t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS) Some(1)
            else if (t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS) Some(2)
            else if (t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS) Some(3)
            else None
          case _ => None
        }
      } finally r.close()
    }
  } catch { case _: Exception => None }

  def events(s: SparkSession, d: String): DataFrame = {
    val schema = new StructType()
      .add("event_id", LongType).add("ts", LongType).add("user_id", LongType)
      .add("event_type", StringType).add("value", DoubleType)
      .add("props", StringType)
    s.read.schema(schema).parquet(s"$d/events.parquet")
      .withColumn("ts", expr(s"timestamp_micros(${tsToMicrosSql(d)})"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Staged JSON payload fixtures (reference API shapes, FIXTURES.md §A). */
  val FixturesDir: String =
    sys.env.getOrElse("GRAFT_FIXTURES_DIR", "/root/repo/fixtures")
}

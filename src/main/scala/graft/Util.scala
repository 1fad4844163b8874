package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-parity helpers.
  *
  * The driver hash-compares Spark output against DuckDB running
  * `SparkEntry.oracleSql` on the same parquet. Floating-point sums are
  * order-dependent under parallel aggregation, so money-like values are
  * reduced to exact integers *per row* (identical IEEE doubles in both
  * engines, then floor → exact integer sum), and timestamps are emitted
  * as formatted strings (session TZ pinned UTC).
  */
object Util {
  type QFn = (SparkSession, String) => DataFrame

  val TsFmt = "yyyy-MM-dd HH:mm:ss"

  /** Timestamp column → deterministic string (UTC). DuckDB twin:
    * strftime(x, '%Y-%m-%d %H:%M:%S'). */
  def fmtTs(c: Column): Column = date_format(c, TsFmt)

  /** Money double → exact integer cents. Per-row doubles are bitwise
    * identical in Spark and DuckDB (same IEEE ops, same order), so the
    * floor is identical; the integer sum is then order-independent.
    * DuckDB twin: CAST(floor(x * 100.0) AS BIGINT) (sum then cast). */
  def cents(c: Column): Column = floor(c * lit(100.0))

  /** Fixed-point 1e-4 scale for ratios/similarities (same trick). */
  def e4(c: Column): Column = floor(c * lit(10000.0))

  /** Run `body` with a runtime SQL conf set, restoring the previous
    * value (or unsetting, if the key had none) afterwards — the scoped
    * form every per-query tuning override must use so a throwing query
    * can never leak its conf into the long-lived session.
    *
    * SEQUENTIAL-EXECUTION ASSUMPTION: runtime conf is session-global, so
    * a concurrent query on the same SparkSession would observe the
    * override mid-scope, and nested/concurrent withConf on the same key
    * can restore stale values. The driver contract runs queries one at a
    * time per session (Verify/Bench both do); if a parallel query runner
    * is ever added, overrides must move to per-query `SparkSession
    * .newSession()` clones (separate runtime conf, shared catalog/state)
    * instead of this helper. */
  def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Session-scoped staging root under java.io.tmpdir, deleted
    * recursively on JVM exit. Every operator that persists state
    * across calls within one session (streaming checkpoints, the
    * k8/k9 sink gates, StreamCow staging) allocates under this root,
    * so sessions never accumulate orphaned per-applicationId
    * directories across runs (r7 advice). One shutdown hook per
    * distinct root. A build-once artifact DERIVED FROM A DATASET does
    * not call this directly: it goes through [[graft.Artifacts]],
    * which keys, commits and vacuums it. */
  def sessionTmpDir(spark: SparkSession, prefix: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/${prefix}_" +
      spark.sparkContext.applicationId
    if (cleanupRoots.add(root)) {
      val f = new java.io.File(root)
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => deleteRecursively(f), s"graft-tmp-cleanup"))
    }
    root
  }
  private[graft] val cleanupRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Does a committed parquet layout actually contain part files? A
    * write whose every input row was filtered out commits _SUCCESS
    * with ZERO parts — schema inference on read-back would throw, so
    * every read of a maybe-empty layout probes this first (the
    * corpus-build run, the retract/compact overlays and logs).
    *
    * It lists through the Hadoop FS: the paths these
    * probes see are local here but object-store URIs on a cluster,
    * where `java.io.File` answers false for everything — which would
    * silently misread a populated generation as empty (the same blind
    * spot tableStream/runIncremental already route around). */
  def anyParquetPart(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hadoopConf)
    def any(st: org.apache.hadoop.fs.FileStatus): Boolean = {
      if (st.isFile) st.getPath.getName.endsWith(".parquet")
      else fs.listStatus(st.getPath).exists(any)
    }
    fs.exists(p) && any(fs.getFileStatus(p))
  }

  /** The active session's Hadoop conf when there is one (credentials,
    * object-store bindings); a bare Configuration (classpath
    * core-site) otherwise — these helpers are also called from
    * non-Spark paths like fixture generators. */
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Drop every sibling directory under `root` except `keep` — the
    * stale-fingerprint vacuum of the streaming staging roots
    * (StreamCow feeds, the dedup-retract feed), so in-place dataset
    * regenerations don't multiply copies on disk. Dataset artifacts
    * vacuum through [[graft.Artifacts]]. */
  private[graft] def vacuumSiblings(root: String, keep: String): Unit =
    Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName != keep)
      .foreach(deleteRecursively)

  /** Cheap content fingerprint of a parquet table path (file name,
    * size, mtime of every part file, recursively) — the cache-key
    * component every per-session artifact must carry so an in-place
    * dataset regeneration REBUILDS the artifact instead of serving a
    * stale copy (the key [[FingerprintMemo]] and [[graft.Artifacts]]
    * build on, shared here so new artifacts can't forget it). */
  def fileFingerprint(path: String): String = {
    // Hadoop FS, not java.io.File (r17 advice): fingerprint-keyed
    // caches must invalidate where the data lives — on a cluster that
    // is an object store whose URIs java.io.File walks as empty,
    // which would pin the FIRST fingerprint forever and serve stale
    // artifacts across in-place dataset regenerations.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hadoopConf)
    def walk(st: org.apache.hadoop.fs.FileStatus)
        : Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).sortBy(_.getPath.getName)
        .flatMap(walk).toSeq
    val joined = (if (fs.exists(p)) walk(fs.getFileStatus(p)) else Nil)
      .map(f =>
        s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .mkString("|")
    // 128-bit digest, not String.hashCode: a 32-bit fingerprint makes
    // accidental collisions (→ silently served stale artifacts)
    // plausible at fleet scale, and its short hex also concatenated
    // ambiguously when callers combine two fingerprints (r8 advice).
    md5Hex(joined)
  }

  /** Driver-side memo of a value derived from files: one slot per
    * (application id, paths, discriminator), valid while the paths'
    * [[fileFingerprint]] is unchanged. The discriminator carries what
    * else the value depends on (k, an iteration count, policy values,
    * a session). A rewritten file (new length or mtime) rebuilds on
    * the next call and replaces the stale value, so the memo holds one
    * value per slot and dies with the application — the one mechanism
    * for file-derived driver values; [[graft.Artifacts]] covers values
    * keyed by an artifact generation.
    *
    * Check, build and replace run under the slot's lock: a caller still
    * building under a superseded fingerprint can never put its stale
    * value back after a rotation. `release` runs on the value a rebuild
    * replaces (before the rebuild), `onHit` on a value served again,
    * both under that lock. */
  final class FingerprintMemo[V](release: V => Unit = (_: V) => (),
      onHit: V => Unit = (_: V) => ()) {
    private final class Slot { var entry: Option[(String, V)] = None }
    private val slots = scala.collection.concurrent.TrieMap
      .empty[(String, Seq[String], Any), Slot]
    def apply(spark: SparkSession, paths: Seq[String], disc: Any = ())(
        build: => V): V = {
      val fp = paths.map(fileFingerprint).mkString("|")
      val slot = slots.getOrElseUpdate(
        (spark.sparkContext.applicationId, paths, disc), new Slot)
      slot.synchronized {
        slot.entry match {
          case Some((`fp`, v)) => onHit(v); v
          case prev =>
            // release BEFORE build: a persisted frame's cache entry is
            // matched by plan, and a re-read of the same path plans the
            // same, so the rebuild would otherwise be served old blocks
            slot.entry = None
            prev.foreach { case (_, old) => release(old) }
            val v = build
            slot.entry = Some((fp, v))
            v
        }
      }
    }
    /** Slots held — one per (application, paths, discriminator). */
    private[graft] def size: Int = slots.size
  }

  /** One row per value of `table(key)`: a driver-side lookup table
    * joined onto a scan as a plan literal, where a broadcast of the
    * same rows as a local relation would cost a Spark job of its own.
    * A key absent from the table gives no row, as an inner join would,
    * and never an ANSI error (`try_element_at`). Use it in a select or
    * withColumn (a generator). */
  def explodeLookup[K: scala.reflect.runtime.universe.TypeTag,
      V: scala.reflect.runtime.universe.TypeTag](
      table: Map[K, Seq[V]], key: Column): Column =
    explode(try_element_at(typedLit(table), key))

  /** Hex MD5 of a string — the shared digest for artifact keys. */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** The materialized RDD behind a `localCheckpoint(true)`'d Dataset.
    * `Dataset.unpersist()` does NOT release checkpointed blocks, so
    * iterative loops (PageRank, connected components) must free each
    * iteration's state through this handle once the next iteration is
    * materialized — otherwise every round's blocks linger until GC in
    * a long-lived session. */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Serializable Hadoop Configuration carrier for executor-side
    * FileSystem access (compaction bins, retention deletes): tasks
    * must see the DRIVER's resolved hadoopConfiguration, not `new
    * Configuration()` defaults — on a cluster the defaults may lack
    * the object-store credentials and fs.* bindings the session was
    * built with. Spark 4 ships this publicly (`@DeveloperApi`); the
    * alias pins the one blessed mechanism for it in this codebase. */
  type SerHadoopConf = org.apache.spark.util.SerializableConfiguration
  def serHadoopConf(spark: SparkSession): SerHadoopConf =
    new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)

  /** Attempt-atomic executor-side file write: stream into an
    * attempt-unique temp sibling, then rename into place. A bare
    * `fs.create(dest, overwrite = true)` is NOT attempt-atomic — with
    * speculative execution (or a zombie retried attempt) two attempts
    * of the same task can interleave writes to the same destination
    * and a reader can observe a truncated blend. The temp path embeds
    * the task attempt id (driver-side callers get "drv"), so
    * concurrent attempts never share a file; rename is atomic on
    * HDFS/local, so the destination only ever holds a COMPLETE copy
    * from one attempt — last rename wins, and every attempt writes
    * identical bytes by construction at the call sites. */
  def atomicCreate(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path)(
      body: java.io.OutputStream => Unit): Unit = {
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId().toString).getOrElse("drv")
    val tmp = new org.apache.hadoop.fs.Path(
      dest.getParent, s".${dest.getName}.$attempt.tmp")
    val os = fs.create(tmp, true)
    try { try body(os) finally os.close() }
    catch { case e: Throwable =>
      // a failed attempt must not leak its attempt-unique temp file:
      // retries would otherwise accumulate orphan .*.tmp siblings
      // (invisible to Spark listings, real disk growth on long-running
      // stores). Best-effort delete, then rethrow the real failure.
      try fs.delete(tmp, false) catch { case _: Exception => () }
      throw e
    }
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) {
      // rename can lose only to a concurrent attempt's rename of the
      // SAME content; drop the temp and accept the winner
      fs.delete(tmp, false)
      if (!fs.exists(dest))
        throw new java.io.IOException(s"atomicCreate: rename to $dest failed")
    }
  }
}

package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once, session-scoped parquet artifacts derived from a dataset
  * — the persist-once-then-fan-out shape of the reference's DAGs
  * (dags/Backups.py:142-153) with their own leftover cleanup
  * (dags/Airflow_Cleanup.py:45-59), in one place instead of per site.
  *
  * An artifact of `kind` over dataset `sfDir` lives at
  * `<sessionTmpDir(prefix)>[/<name>]/<md5 of sfDir>/<md5 of the
  * inputs' fileFingerprint>`, where `kind` is `prefix` or
  * `prefix/name`. The prefix is what [[PlanManifest.scanToken]] maps
  * an artifact scan to; the name separates several artifacts under
  * one prefix. The full-path digest keeps two datasets apart (no
  * 32-bit path tag to collide), and the input digest rotates the
  * generation when a dataset is regenerated in place.
  *
  * Commit protocol, per (kind, dataset), under one JVM lock:
  *  - a directory carrying [[Marker]] is complete and is served;
  *  - otherwise every child of the (kind, dataset) root is deleted —
  *    the stale generations and a torn build of this one — and
  *    `build` writes the directory, after which the marker is written.
  *    A build that throws leaves no marker, so it is rebuilt, never
  *    served.
  * Other datasets' and other kinds' artifacts are never touched. */
object Artifacts {

  /** Written into an artifact directory after its build returns. The
    * leading underscore keeps parquet listing from reading it. */
  val Marker = "_ARTIFACT_COMMITTED"

  private val locks = TrieMap.empty[String, Object]
  private val reads = TrieMap.empty[(SparkSession, String), DataFrame]
  private val snapshots = TrieMap.empty[(SparkSession, String), Any]

  /** Where (kind, sfDir) lives for the inputs' current content; builds
    * nothing. */
  def path(spark: SparkSession, kind: String, sfDir: String,
      inputs: Seq[String]): String = {
    val (prefix, name) = kind.span(_ != '/')
    s"${Util.sessionTmpDir(spark, prefix)}$name/${Util.md5Hex(sfDir)}/" +
      Util.md5Hex(inputs.map(Util.fileFingerprint).mkString("|"))
  }

  /** The committed artifact directory, running `build(dir)` first when
    * it is missing or torn. */
  def dir(spark: SparkSession, kind: String, sfDir: String,
      inputs: Seq[String])(build: String => Unit): String = {
    val out = path(spark, kind, sfDir, inputs)
    val marker = new java.io.File(out, Marker)
    if (!marker.exists()) {
      val root = marker.getParentFile.getParentFile
      locks.getOrElseUpdate(root.getPath, new Object).synchronized {
        if (!marker.exists()) {
          Option(root.listFiles()).toSeq.flatten
            .foreach(Util.deleteRecursively)
          val under = root.getPath + "/"
          reads.keys.filter(_._2.startsWith(under)).foreach(reads.remove)
          snapshots.keys.filter(_._2.startsWith(under))
            .foreach(snapshots.remove)
          build(out)
          java.nio.file.Files.write(marker.toPath, Array.empty[Byte])
        }
      }
    }
    out
  }

  /** One-table form: `mk` written as the artifact, served through
    * [[read]]. Prefer it over a persisted frame from
    * [[graft.ops.Flow.sharedScanOf]] (a [[Util.FingerprintMemo]] slot
    * per session) when one action references the result several
    * times: the parquet read-back is codegen-fused and survives
    * `clearCache()`, while an InMemoryTableScan pays deserialized
    * batches per subtree job (measured 4× slower on
    * t_curriculum_resume). */
  def table(spark: SparkSession, kind: String, sfDir: String,
      inputs: Seq[String])(mk: => DataFrame): DataFrame =
    read(spark, dir(spark, kind, sfDir, inputs)(
      mk.write.mode("overwrite").parquet(_)))

  /** Memoised read of a committed artifact table, per session. An
    * artifact is immutable once committed, so one read serves every
    * later call without re-listing it or re-walking its fingerprint;
    * a rebuild evicts the entries under its root. */
  def read(spark: SparkSession, path: String): DataFrame =
    reads.getOrElseUpdate((spark, path), Tables.parquet(spark, path))

  /** Driver-side value `f` derives from a committed artifact at `path`
    * (a one-row statistic, a fixed lookup table), computed once per
    * session and artifact generation. Like [[read]] it needs no
    * fingerprint walk of its own — the generation is in the path — and
    * the rebuild that evicts [[read]]'s entries evicts these too. */
  def snapshot[V](spark: SparkSession, path: String)(f: => V): V =
    snapshots.getOrElseUpdate((spark, path), f).asInstanceOf[V]
}

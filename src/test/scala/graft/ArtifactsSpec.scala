package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.ops.{Sinks, Text, Vector}

/** The build-once artifact store: datasets never touch each other's
  * artifacts, a torn build is rebuilt rather than served, and an input
  * rewrite rotates only its own dataset's generation. */
class ArtifactsSpec extends SparkSuite {

  /** `sf` copied to `<parent>/<name>`. `keepTimes` preserves the
    * files' mtimes, so the copy's fingerprint equals `sf`'s; otherwise
    * every copy gets its own mtimes, so no two copies share one. */
  private def copyOf(parent: Path, name: String,
      keepTimes: Boolean = false): String = {
    val dst = Files.createDirectories(parent.resolve(name))
    val shift = if (keepTimes) 0L else copies.incrementAndGet() * 1000L
    Files.list(Paths.get(sf)).iterator().asScala.foreach { f =>
      val t = Files.copy(f, dst.resolve(f.getFileName),
        StandardCopyOption.COPY_ATTRIBUTES).toFile
      assert(t.setLastModified(t.lastModified() + shift))
    }
    dst.toString
  }
  private val copies = new java.util.concurrent.atomic.AtomicLong

  private def scratch(): Path = {
    val d = Files.createTempDirectory("graft_artifacts_spec")
    d.toFile.deleteOnExit()
    d
  }

  /** Every file under `dir` with its mtime — changes iff anything was
    * (re)written. */
  private def snapshot(dir: String): Map[String, Long] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => p.toString -> p.toFile.lastModified()).toMap

  private def committed(dir: String): Boolean =
    new java.io.File(dir, Artifacts.Marker).exists()

  private def k7Dir(d: String): String =
    Artifacts.path(spark, "graft_part_pruned", d, Seq(s"$d/events.parquet"))
  private def corpusDir(d: String): String =
    Artifacts.path(spark, "graft_corpus_run", d, Seq(s"$d/documents.parquet"))

  test("A, B, A: both datasets' artifacts stay live; A's revisit writes nothing") {
    val root = scratch()
    val (a, b) = (copyOf(root, "a"), copyOf(root, "b"))
    def run(d: String): Seq[Seq[Row]] = Seq(
      Sinks.k7PrunedRead(spark, d).collect().toSeq,
      Text.corpusBuildRun(spark, d).collect().toSeq)
    val first = run(a)
    val before = Seq(k7Dir(a), corpusDir(a)).map(snapshot)
    run(b)
    assert(run(a) == first)
    assert(Seq(k7Dir(a), corpusDir(a)).map(snapshot) == before,
      "the second call on A rebuilt an artifact")
    for (d <- Seq(k7Dir(a), corpusDir(a), k7Dir(b), corpusDir(b)))
      assert(committed(d), s"$d is not a live committed artifact")
    Util.deleteRecursively(root.toFile)
  }

  test("a build that throws after a partial write is rebuilt, never served") {
    import spark.implicits._
    val d = copyOf(scratch(), "torn")
    val kind = "graft_artifacts_spec/torn"
    val inputs = Seq(s"$d/events.parquet")
    val err = intercept[IllegalStateException] {
      Artifacts.dir(spark, kind, d, inputs) { out =>
        Seq(1L).toDF("x").write.parquet(out)
        throw new IllegalStateException("crash between write and commit")
      }
    }
    assert(err.getMessage.startsWith("crash"))
    val dir = Artifacts.path(spark, kind, d, inputs)
    assert(new java.io.File(dir).exists() && !committed(dir),
      "guard: the partial write must be on disk without a marker")
    var builds = 0
    val t = Artifacts.table(spark, kind, d, inputs) {
      builds += 1; Seq(2L, 3L).toDF("x")
    }
    assert(builds == 1 && committed(dir))
    assert(t.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    Artifacts.table(spark, kind, d, inputs) { builds += 1; Seq(9L).toDF("x") }
    assert(builds == 1, "a committed artifact must not rebuild")
  }

  test("a directory without the marker is wiped and rebuilt (k7_pruned_read)") {
    val d = copyOf(scratch(), "unmarked")
    val want = Sinks.k7PrunedRead(spark, d).collect().toSeq
    val dir = k7Dir(d)
    assert(new java.io.File(dir, Artifacts.Marker).delete())
    // tear it further: drop its data files
    val parts = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    assert(parts.nonEmpty)
    parts.foreach(Files.delete)
    assert(Sinks.k7PrunedRead(spark, d).collect().toSeq == want)
    assert(committed(dir))
  }

  test("rewriting an input rebuilds; only that dataset's stale generation goes") {
    val root = scratch()
    val (a, b) = (copyOf(root, "a"), copyOf(root, "b"))
    val wantA = Sinks.k7PrunedRead(spark, a).collect().toSeq
    Sinks.k7PrunedRead(spark, b).collect()
    val (oldA, liveB) = (k7Dir(a), k7Dir(b))
    val bBefore = snapshot(liveB)
    // rewrite A's events in place: same bytes, new mtime
    val ev = Paths.get(s"$a/events.parquet")
    Files.copy(Paths.get(s"$sf/events.parquet"), ev,
      StandardCopyOption.REPLACE_EXISTING)
    assert(ev.toFile.setLastModified(ev.toFile.lastModified() + 60000L))
    val newA = k7Dir(a)
    assert(newA != oldA, "guard: the rewrite must move the fingerprint")
    assert(Sinks.k7PrunedRead(spark, a).collect().toSeq == wantA)
    assert(committed(newA))
    assert(!new java.io.File(oldA).exists(), "A's stale generation survived")
    assert(snapshot(liveB) == bBefore && committed(liveB),
      "B's artifact was touched by A's rebuild")
    Util.deleteRecursively(root.toFile)
  }

  test("datasets at …/Aa and …/BB (equal String.hashCode) get distinct dirs") {
    val root = scratch()
    val aa = copyOf(root, "Aa", keepTimes = true)
    val bb = copyOf(root, "BB", keepTimes = true)
    assert(aa.hashCode == bb.hashCode, "guard: the paths must collide")
    // the old in-memory memo key, `<sfDir>#<embeddings fingerprint>`
    def oldKey(d: String): String =
      s"$d#${Util.fileFingerprint(s"$d/embeddings.parquet")}"
    assert(oldKey(aa).hashCode == oldKey(bb).hashCode,
      "guard: equal fingerprints keep the old 32-bit keys colliding")
    val feeds = Seq(aa, bb).map(Vector.serveFeedDir(spark, _))
    val sinks = Seq(aa, bb).map { d =>
      Sinks.k7PrunedRead(spark, d).collect(); k7Dir(d)
    }
    for (Seq(x, y) <- Seq(feeds, sinks)) {
      assert(x != y, s"one directory for two datasets: $x")
      assert(committed(x) && committed(y))
    }
    Util.deleteRecursively(root.toFile)
  }

  private def lexDir(d: String): String =
    Artifacts.path(spark, "graft_retrieval_tf", d, Seq(s"$d/documents.parquet"))

  /** Replace `d`'s documents with the rows passing `keep`; their count. */
  private def rewriteDocuments(d: String,
      keep: org.apache.spark.sql.Column): Long = {
    val docs = Paths.get(s"$d/documents.parquet")
    val next = Paths.get(s"$d/documents_next.parquet")
    spark.read.parquet(docs.toString).filter(keep).write.parquet(next.toString)
    Util.deleteRecursively(docs.toFile)
    Files.move(next, docs)
    spark.read.parquet(docs.toString).count()
  }

  test("lexical snapshots: one per dataset and index generation; a " +
      "rebuild at the same path evicts") {
    import org.apache.spark.sql.functions.col
    val root = scratch()
    val (a, b) = (copyOf(root, "a"), copyOf(root, "b"))
    val nB = rewriteDocuments(b, col("doc_id") % 2 === 0)
    val (sa, sb) = (Text.lexSnapshot(spark, a), Text.lexSnapshot(spark, b))
    assert(sa.nDocs == spark.read.parquet(s"$a/documents.parquet").count())
    assert(sb.nDocs == nB && sa.nDocs != sb.nDocs,
      s"A and B share a snapshot: ${sa.nDocs} vs ${sb.nDocs}")
    assert(Text.lexSnapshot(spark, a) eq sa, "a repeat call re-read A")
    // rewriting A's documents moves A, and only A, to a new snapshot
    val nA = rewriteDocuments(a, col("doc_id") % 3 =!= 0)
    val sa2 = Text.lexSnapshot(spark, a)
    assert(sa2.nDocs == nA && nA != sa.nDocs)
    assert(Text.lexSnapshot(spark, b) eq sb, "A's rewrite evicted B")
    // an unmarked directory at the same path is rebuilt, and the
    // rebuild drops the snapshot taken of the old build
    assert(new java.io.File(lexDir(a), Artifacts.Marker).delete())
    val sa3 = Text.lexSnapshot(spark, a)
    assert(!(sa3 eq sa2), "the rebuild served the old build's snapshot")
    assert(sa3 == sa2 && committed(lexDir(a)))
    Util.deleteRecursively(root.toFile)
  }

  test("no 32-bit hash in src/main/scala/graft/{ops,streaming}") {
    // artifact and checkpoint keys use the full-path md5
    // (Util.md5Hex / Artifacts.path) and in-memory slots the object
    // itself: a 32-bit String.hashCode, MurmurHash3 or
    // System.identityHashCode tag lets two datasets (or two sessions)
    // share — or vacuum — each other's entries
    val banned = """\.hashCode|MurmurHash3|identityHashCode""".r
    val files = Seq("ops", "streaming").flatMap { sub =>
      Files.walk(Paths.get(s"src/main/scala/graft/$sub")).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }
    assert(files.exists(_.getFileName.toString == "Vector.scala"))
    val hits = files.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if banned.findFirstIn(l).isDefined =>
          s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, "32-bit hash keys — use Util.md5Hex:\n" +
      hits.mkString("\n"))
  }
}

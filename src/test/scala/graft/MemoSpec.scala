package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.ops.{Flow, Vector}

/** Lifetimes of the driver-side memos: a [[Util.FingerprintMemo]] holds
  * one value per (application, paths, discriminator) and replaces it
  * when the files move, and no other object-level memo map grows back
  * in the query modules. */
class MemoSpec extends SparkSuite {

  private def scratch(): Path = {
    val d = Files.createTempDirectory("graft_memo_spec")
    d.toFile.deleteOnExit()
    d
  }

  test("a FingerprintMemo keeps one slot per (paths, discriminator) and " +
      "releases the value a rewrite replaces") {
    val f = scratch().resolve("v.txt")
    Files.writeString(f, "a")
    val released = scala.collection.mutable.Buffer.empty[String]
    val memo = new Util.FingerprintMemo[String](release = v => released += v)
    var builds = 0
    def get(d: Int): String = memo(spark, Seq(f.toString), d) {
      builds += 1
      Files.readString(f) + d
    }
    assert(Seq(get(1), get(2), get(1), get(2)) == Seq("a1", "a2", "a1", "a2"))
    assert(builds == 2 && memo.size == 2 && released.isEmpty)
    Files.writeString(f, "bb") // a new length moves the fingerprint
    assert(Seq(get(1), get(2)) == Seq("bb1", "bb2"))
    assert(builds == 4 && memo.size == 2,
      s"the rewrite added slots instead of replacing them: ${memo.size}")
    assert(released.sorted == Seq("a1", "a2"))
  }

  test("embeddings rewritten in place twice: corpusN and pqTrain rebuild " +
      "each time and keep one slot each") {
    val dir = scratch()
    val emb = dir.resolve("embeddings.parquet")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"), emb)
    // drop the vec_ids ≡ g (mod 7), keeping the PQ seed ids
    def rewrite(g: Int): Unit = {
      val next = dir.resolve("next.parquet")
      spark.read.parquet(emb.toString)
        .filter(col("vec_id") < Vector.PqK || col("vec_id") % 7 =!= g)
        .write.parquet(next.toString)
      Util.deleteRecursively(emb.toFile)
      Files.move(next, emb)
    }
    val memos = Seq(Vector.corpusNMemo, Vector.bookMemo)
    val before = memos.map(_.size)
    val gens = (0 to 2).map { g =>
      if (g > 0) rewrite(g)
      val books = Vector.pqTrain(spark, dir.toString, 1)
      assert(Vector.pqTrain(spark, dir.toString, 1) eq books,
        s"generation $g: a repeat call retrained")
      (spark.read.parquet(emb.toString).count(),
        Vector.corpusN(spark, dir.toString), books)
    }
    for ((n, corpusN, _) <- gens) assert(corpusN == n, "stale corpus size")
    assert(gens.map(_._1).distinct.size == 3, "guard: each rewrite drops rows")
    for (Seq(a, b) <- gens.map(_._3).sliding(2))
      assert(!(a eq b), "a rewrite served the old codebooks")
    assert(memos.map(_.size) == before.map(_ + 1),
      "a rewrite left the superseded slot behind")
    Util.deleteRecursively(dir.toFile)
  }

  test("a newSession() is never handed its parent's sharedScanOf frame") {
    import spark.implicits._
    val path = scratch().resolve("t.parquet").toString
    Seq(1).toDF("v").write.parquet(path)
    val child = spark.newSession()
    val before = Flow.sharedScans.size
    val mine = Flow.sharedScanOf(spark, "t_session", Seq(path))(
      spark.read.parquet(path))
    val theirs = Flow.sharedScanOf(child, "t_session", Seq(path))(
      child.read.parquet(path))
    assert(!(theirs eq mine) && (theirs.sparkSession eq child))
    assert(Flow.sharedScanOf(spark, "t_session", Seq(path))(
      Seq(2).toDF("v")) eq mine, "the parent lost its own frame")
    assert(Flow.sharedScans.size == before + 2)
    Seq(mine, theirs).foreach(_.unpersist())
  }

  test("no object-level memo map in graft/ops, graft/streaming or " +
      "Tables.scala outside the allowlist") {
    // file-derived driver values go through Util.FingerprintMemo and
    // artifact-generation values through graft.Artifacts; each map
    // left is not such a value:
    val allowed = Set(
      // read on executors through TsUnitRuntime, where there is no session
      "Tables.scala:tsUnitCache",
      // a pure function of an Int, reading no data
      "Vector.scala:planesCache",
      // stream runId grace state, not a data memo
      "Semi.scala:firstSeen",
      // locks guarding catalog tables, not values
      "Relational.scala:bucketedLocks")
    val banned = """TrieMap|ConcurrentHashMap|mutable\.HashMap""".r
    val field =
      """^  (?:(?:private|protected)(?:\[\w+\])? )?(?:lazy )?va[lr] (\w+)""".r
    val files = Seq("ops", "streaming").flatMap { sub =>
      Files.walk(Paths.get(s"src/main/scala/graft/$sub")).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    } :+ Paths.get("src/main/scala/graft/Tables.scala")
    val found = files.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      lines.indices.flatMap { i =>
        field.findFirstMatchIn(lines(i)).flatMap { m =>
          // the declaration and its continuation line, if any
          val next = lines.lift(i + 1).filter(_.startsWith("   "))
          val decl = lines(i) + next.getOrElse("")
          banned.findFirstIn(decl).map(_ => s"${p.getFileName}:${m.group(1)}")
        }
      }
    }.toSet
    assert(allowed.subsetOf(found), "guard: the scan no longer sees " +
      (allowed -- found).mkString(", "))
    assert(found == allowed, "new object-level memo maps — use " +
      "Util.FingerprintMemo or graft.Artifacts:\n" +
      (found -- allowed).mkString("\n"))
  }
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source scans for the two single mechanisms: every main builds its
  * session through [[graft.Session.local]], and the installed
  * `RankFilterToGroupTopK` rule is the one place a per-group top-k
  * prune enters a query plan. */
class SessionSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala/graft")

  /** `file:line: text` of every line under `main` matching `re`. */
  private def hits(re: Regex): Seq[String] = {
    val files = Files.walk(main).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.getFileName.toString == "Session.scala"))
    files.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if re.findFirstIn(l).isDefined =>
          s"${main.relativize(p)}:${i + 1}: ${l.trim}"
      }
    }
  }

  test("src/main builds a SparkSession only in graft.Session") {
    val found = hits("""SparkSession\s*\.\s*builder\b""".r)
    val (factory, others) = found.partition(_.startsWith("Session.scala:"))
    assert(factory.size == 1, "guard: the scan no longer sees the factory")
    assert(others.isEmpty, "build the session with graft.Session.local:\n" +
      others.mkString("\n"))
  }

  test("no builder outside graft/plans places a GroupTopK node by hand") {
    // a rank filter over row_number() gets its map-side heap from the
    // installed RankFilterToGroupTopK; topk_grouped_exec (graft/plans)
    // is the one builder that shows the operator directly
    val found = hits("""\bGroupTopK\(""".r)
    val (plans, others) = found.partition(_.startsWith("plans/"))
    assert(plans.nonEmpty, "guard: the scan no longer sees graft/plans")
    assert(others.isEmpty, "write the rank filter and let the rule prune:\n" +
      others.mkString("\n"))
  }
}

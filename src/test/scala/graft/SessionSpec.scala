package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source scans for the two single mechanisms: every main builds its
  * session through [[graft.Session.local]], and the installed
  * `RankFilterToGroupTopK` rule is the one place a per-group top-k
  * prune enters a query plan. A third scan fixes the set of mains. */
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

  test("src/main has exactly the driver, plan and data-generator mains") {
    // a main is an object with `def main` or `extends App`, named after
    // the last object declared above it in its file; measurement
    // belongs in perfbench's tracer and the specs, not in a new main
    val objectDecl =
      """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|case\s+)*object\s+(\w+)""".r
    val entry = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
    val mains = files.flatMap { p =>
      var owner = ""
      Files.readAllLines(p).asScala.flatMap { l =>
        objectDecl.findFirstMatchIn(l).foreach(m => owner = m.group(1))
        if (entry.findFirstIn(l).isDefined) Some(owner) else None
      }
    }
    assert(mains.sorted ==
      Seq("Bench", "Explain", "GenData", "PlanDump", "Verify"))
  }
}

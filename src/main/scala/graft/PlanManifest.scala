package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** Registry-wide physical-plan fingerprints (r15 verdict #4): a
  * compact, deterministic summary of each query's EXECUTED plan shape
  * — exchange/broadcast counts, join strategies (with join type),
  * window count, scanned tables, pushed filters, and custom operators
  * — committed as `PLANS.json` and diffed by PlanManifestSpec on every
  * test run, so a silent plan regression (a new Exchange, a lost
  * PushedFilter, a broadcast→SMJ flip, a custom operator falling out
  * of the plan) fails CI instead of quietly shipping.
  *
  * Intentional-change workflow: when a plan change is DELIBERATE,
  * regenerate the manifest (`sbt "runMain graft.PlanDump"`), review
  * the JSON diff query by query (git diff PLANS.json), and commit the
  * new manifest together with the change that explains it.
  *
  * Determinism: fingerprints are computed at sf0.001 with AQE OFF and
  * default broadcast thresholds, on the plan AS PLANNED (never
  * executed), with session-tmp artifact paths normalized to their
  * stable prefixes — so the same source always fingerprints the same
  * bytes. Size-conditional shapes are part of the fingerprint on
  * purpose: a testdata regeneration that flips one is exactly the
  * kind of drift a human should look at. */
object PlanManifest {

  /** Queries whose PLAN construction is non-deterministic or
    * environment-dependent (live HTTP ports baked into scan options).
    * Everything else in the registry is fingerprinted. */
  val Excluded: Set[String] = Set.empty

  /** Normalize a scan root path to a stable token: testdata parquet →
    * table name; session-tmp artifacts → their prefix (the part
    * before the per-application suffix); anything else → basename. */
  private[graft] def scanToken(path: String): String = {
    val p = path.stripSuffix("/")
    val base = p.split('/').filter(_.nonEmpty)
    val inTmp = base.indexWhere(_.startsWith("graft_"))
    if (inTmp >= 0) base(inTmp).replaceAll("_(local-|app-)?[0-9][0-9a-z-]*$", "")
    else base.lastOption.getOrElse(p).stripSuffix(".parquet")
  }

  /** Collapse long pushed `In(col, [v1,v2,…])` value lists to their
    * COUNT: a data-dependent point-read list (the PQ serve shortlist
    * ships |batch|×C vec_ids as a pushed IN filter) is plan SHAPE
    * worth fingerprinting, but its literal values are row data — at
    * 10× they made a single manifest line ~100 KB and every data
    * regeneration would churn it. `In(col, [8 values])` keeps the
    * shape (a pushed IN on that column, how many values) and drops
    * the noise. Lists of ≤ 20 values (the label IN-lists, fixture
    * query ids) stay verbatim — their values ARE the contract. */
  private[graft] def normalizeInLists(pushed: String): String =
    "In\\(([^,()]+), \\[([^\\]]*)\\]\\)".r.replaceAllIn(pushed, m => {
      val vals = m.group(2).split(",")
      if (vals.length <= 20) m.matched.replace("$", "\\$")
      else s"In(${m.group(1)}, [${vals.length} values])"
    })

  /** One query's fingerprint as a sorted-key map of scalar/loggable
    * values. */
  def fingerprint(df: DataFrame): Map[String, String] = {
    val plan = df.queryExecution.executedPlan
    def all(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(all)) ++ p.subqueries.flatMap(all)
    val nodes = all(plan)
    val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    val broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
    val windows = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])
    val joins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        s"${j.getClass.getSimpleName}:${j.joinType}"
    }.sorted
    val scans = nodes.collect {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(r => scanToken(r.toString))
    }.flatten.distinct.sorted
    val pushed = nodes.collect {
      case s: FileSourceScanExec => s.metadata.get("PushedFilters").toSeq
    }.flatten.filter(_ != "[]").map(normalizeInLists).distinct.sorted
    val custom = nodes.map(_.getClass.getSimpleName)
      .filter(n => n.startsWith("TopKPerGroup") || n.startsWith("BinnedRange")
        || n.contains("Graft"))
      .groupBy(identity).map { case (k, v) => s"$k x${v.size}" }.toSeq.sorted
    Map(
      "exchanges" -> exchanges.toString,
      "broadcasts" -> broadcasts.toString,
      "windows" -> windows.toString,
      "joins" -> joins.mkString("; "),
      "scans" -> scans.mkString("; "),
      "pushed" -> pushed.mkString("; "),
      "custom" -> custom.mkString("; "))
  }

  /** Fingerprint every registry query at `sfDir`. Queries whose
    * construction throws are recorded as `error:<class>` so the
    * manifest stays total. The session must have AQE disabled for
    * stable shapes. [[SparkEntry.queries]] installs the custom rules
    * before each builder, so a query fingerprints the same whichever
    * queries the session ran before it. */
  def manifest(spark: SparkSession, sfDir: String)
      : Seq[(String, Map[String, String])] = {
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => Excluded(n) }
      .map { case (name, fn) =>
        val fp =
          try fingerprint(fn(spark, sfDir))
          catch { case e: Throwable =>
            Map("error" -> e.getClass.getSimpleName) }
        (name, fp)
      }
  }

  def toJson(m: Seq[(String, Map[String, String])]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    m.map { case (name, fp) =>
      val body = fp.toSeq.sortBy(_._1)
        .map { case (k, v) => s"    ${q(k)}: ${q(v)}" }.mkString(",\n")
      s"  ${q(name)}: {\n$body\n  }"
    }.mkString("{\n", ",\n", "\n}\n")
  }

  def parseJson(s: String): Map[String, Map[String, String]] = {
    // String-aware scanner for the exact two-level shape toJson
    // emits. The r16 regex stopped an object body at the FIRST '}',
    // but fingerprint values can legally contain braces (pushed
    // filters, join strings), and it only unescaped \" and \\ while
    // toJson also emits \n and \uXXXX — such a value would truncate
    // the entry and read back as spurious plan drift. Here strings
    // are lexed as units (a '}' inside one can't close the object)
    // and the unescape inverts toJson's full escape set; malformed
    // input throws instead of silently dropping entries.
    var i = 0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def expect(c: Char): Unit = {
      ws()
      require(i < s.length && s(i) == c, s"expected '$c' at offset $i")
      i += 1
    }
    def str(): String = {
      ws()
      require(i < s.length && s(i) == '"', s"expected string at offset $i")
      i += 1
      val b = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') s(i + 1) match {
          case '"' => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case 'n' => b += '\n'; i += 2
          case 'u' =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case c =>
            throw new IllegalArgumentException(s"bad escape \\$c at $i")
        } else { b += s(i); i += 1 }
      }
      i += 1
      b.result()
    }
    def inner(): Map[String, String] = {
      expect('{')
      val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
      ws()
      if (s(i) == '}') { i += 1; return m.toMap }
      var done = false
      while (!done) {
        val k = str(); expect(':'); m(k) = str()
        ws()
        if (s(i) == ',') i += 1 else { expect('}'); done = true }
      }
      m.toMap
    }
    val out =
      scala.collection.mutable.LinkedHashMap.empty[String, Map[String, String]]
    expect('{')
    ws()
    if (i < s.length && s(i) == '}') return out.toMap
    var done = false
    while (!done) {
      val k = str(); expect(':'); out(k) = inner()
      ws()
      if (i < s.length && s(i) == ',') i += 1
      else { expect('}'); done = true }
    }
    out.toMap
  }
}

/** Regenerate `PLANS.json` (see [[PlanManifest]] for the workflow).
  * Usage: sbt "runMain graft.PlanDump [sfDir] [outFile]" */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption.getOrElse("PLANS.json")
    val spark = Session.local(8, Map("spark.sql.adaptive.enabled" -> "false"))
    val m = PlanManifest.manifest(spark, sfDir)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      PlanManifest.toJson(m))
    println(s"wrote ${m.size} fingerprints to $out")
    spark.stop()
  }
}

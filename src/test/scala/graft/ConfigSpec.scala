package graft

import org.apache.spark.sql.functions._

import graft.ops.Config
import graft.ops.Config.Param

class ConfigSpec extends SparkSuite {

  test("store reads the KV fixture with the declared schema") {
    val rows = Config.store(spark).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).contains("freshness_interval_hours"))
  }

  test("Variable.get surface: typed values and defaults") {
    assert(Config.getLong(spark, "freshness_interval_hours", 99L) == 6L)
    assert(Config.getLong(spark, "no_such_key", 42L) == 42L)
    assert(Config.getDouble(spark, "ratio_threshold_pct", 0.0) == 0.9)
    assert(Config.getBool(spark, "alerts_enabled", default = false))
    assert(Config.getString(spark, "BACKUP_iowa_HOST", "?") ==
      "iowa.example.com")
  }

  test("Variable.get surface: malformed value fails loudly, naming the key") {
    val e = intercept[IllegalArgumentException] {
      Config.getLong(spark, "BACKUP_iowa_HOST", 0L)
    }
    assert(e.getMessage.contains("BACKUP_iowa_HOST"))
    assert(e.getMessage.contains("expected integer"))
  }

  test("dynamic key column builds f-string style keys per row") {
    import spark.implicits._
    val got = Seq("iowa", "chicago").toDF("device")
      .select(Config.dynamicKey("BACKUP_%s_HOST", col("device")).as("k"))
      .as[String].collect().toSet
    assert(got == Set("BACKUP_iowa_HOST", "BACKUP_chicago_HOST"))
  }

  test("param validation: defaults, range, enum, type — failure paths name the param") {
    val params = Seq(
      Param("record_type", "string", default = Some("A"),
        enum = Seq("A", "AAAA", "CNAME")),
      Param("ttl", "integer", default = Some("300"), min = Some(60),
        max = Some(86400)),
      Param("proxied", "boolean", default = Some("false")))

    // defaults apply
    val resolved = Config.resolveParams(params, Map.empty)
    assert(resolved == Map("record_type" -> "A", "ttl" -> "300",
      "proxied" -> "false"))

    // overrides validate
    assert(Config.resolveParams(params, Map("ttl" -> "600"))("ttl") == "600")

    // enum violation
    val e1 = intercept[IllegalArgumentException] {
      Config.resolveParams(params, Map("record_type" -> "MX"))
    }
    assert(e1.getMessage.contains("record_type") && e1.getMessage.contains("MX"))

    // range violation
    val e2 = intercept[IllegalArgumentException] {
      Config.resolveParams(params, Map("ttl" -> "10"))
    }
    assert(e2.getMessage.contains("ttl") && e2.getMessage.contains("minimum"))

    // type violation
    val e3 = intercept[IllegalArgumentException] {
      Config.resolveParams(params, Map("ttl" -> "soon"))
    }
    assert(e3.getMessage.contains("expected integer"))

    // required param missing (no default)
    val e4 = intercept[IllegalArgumentException] {
      Config.resolveParams(Seq(Param("zone", "string")), Map.empty)
    }
    assert(e4.getMessage.contains("zone") && e4.getMessage.contains("required"))
  }

  test("config lookups enter the plan as broadcasts, never a fact shuffle") {
    val plan = graft.ops.Config.configDrivenFreshness(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), s"config row must broadcast:\n$plan")
    // the only hash exchanges are the user_id aggregate + final sort
    assert(!plan.contains("SortMergeJoin"),
      s"one-row config join must not sort-merge:\n$plan")
  }

  test("config_driven_freshness derives its window from the store") {
    val df = Config.configDrivenFreshness(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every row carries the configured 6h interval
    assert(rows.forall(_.getLong(2) == 6L))
    // matches v1 (whose bound is the compiled-in Now - 6h) on the stale flag
    val v1 = graft.ops.Validate.v1Freshness(spark, sf)
      .select("user_id", "stale").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rows.forall(r => v1(r.getLong(0)) == r.getBoolean(3)))
  }

  test("ACL layer: role resolution matches the reference map; masked " +
      "view is schema-stable and unreadable; audit reconciles") {
    import graft.ops.Acl
    // the reference's map_roles semantics verbatim
    // (webserver_config.py:59-63 + the no-groups Public default)
    assert(Acl.roleOf(Seq("authentik Admins")) == "Admin")
    assert(Acl.roleOf(Seq("engineering", "authentik Admins")) == "Admin",
      "privileged group wins over other memberships")
    assert(Acl.roleOf(Seq("sales")) == "Viewer")
    assert(Acl.roleOf(Seq.empty) == "Public")
    // masked view: same five columns as the base table, text replaced
    // by a digest that matches no raw text
    val mv = Acl.aclMaskedView(spark, sf)
    assert(mv.columns.toSeq ==
      Seq("doc_id", "text_masked", "lang", "source", "n_chars"))
    val raw = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("text"))
      .limit(50).collect().map(_.getString(0)).toSet
    assert(mv.limit(50).collect()
      .forall(r => !raw.contains(r.getString(1))),
      "masked column must never leak raw text")
    // audit: visible_rows reconcile — Admin sees everything, the
    // Viewers' tenants partition the corpus, Public sees nothing
    val auditRows = Acl.aclAudit(spark, sf).collect()
    val audit = auditRows.map(r => r.getString(1) -> r.getLong(4))
    val all = graft.Tables.documents(spark, sf).count()
    assert(audit.collect { case ("Admin", n) => n }.forall(_ == all))
    assert(audit.collect { case ("Public", n) => n }.forall(_ == 0L))
    assert(audit.collect { case ("Viewer", n) => n }.forall(n =>
      n > 0 && n < all), "a tenant Viewer sees a proper subset")
    // policy is DATA (r17 next-round #5): the audit resolves the
    // store's ACL_GROUPS_* principals under the store's
    // ACL_POLICY_VERSION — a governance change is a config edit
    val principals = auditRows.map(_.getString(0)).toSeq
    assert(principals == Seq("ada", "bo", "cy", "dee", "ev"),
      "principals come from the ACL_GROUPS_* store rows")
    assert(auditRows.forall(_.getLong(7) == 2L),
      "every audit row carries the store's ACL_POLICY_VERSION")
    // the empty-group principal (store value '') resolves Public —
    // the OIDC callback's no-groups default, through the store path
    assert(auditRows.find(_.getString(0) == "ev")
      .exists(_.getString(1) == "Public"))
  }

  test("store snapshot: a rewritten store is seen by the next lookup; " +
      "duplicates resolve to the max in valueRow and fail in getString") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfgsnap")
    val file = dir.resolve("graft_config.jsonl")
    val d = dir.toString
    def write(lines: String*): Unit =
      java.nio.file.Files.writeString(file, lines.mkString("", "\n", "\n"))
    def kv(k: String, v: String) = s"""{"key": "$k", "value": "$v"}"""
    def row(key: String): String =
      Config.valueRow(spark, key, "dflt", d).collect().head.getString(0)

    write(kv("k", "6"))
    assert(Config.getString(spark, "k", "dflt", d) == "6")
    assert(row("k") == "6")
    // new length
    write(kv("k", "12"))
    assert(Config.getString(spark, "k", "dflt", d) == "12")
    assert(row("k") == "12")
    // same length, only the mtime moves
    val mtime = file.toFile.lastModified
    write(kv("k", "34"))
    assert(file.toFile.setLastModified(mtime + 5000))
    assert(Config.getString(spark, "k", "dflt", d) == "34")
    assert(row("k") == "34")

    // duplicated key: valueRow takes the max as a string ("9" > "10"),
    // getString refuses to pick; a null value falls back to the default
    write(kv("k", "9"), kv("k", "10"), """{"key": "n"}""")
    assert(row("k") == "9")
    val e = intercept[IllegalStateException](Config.getString(spark, "k", "dflt", d))
    assert(e.getMessage.contains("'k'") && e.getMessage.contains("conflicting"))
    assert(row("n") == "dflt" && Config.getString(spark, "n", "dflt", d) == "dflt")

    // the max orders UTF-8 bytes like Spark's max, not UTF-16 units:
    // U+FF5E sorts above a surrogate pair in Java, below it in UTF-8
    write(kv("u", "\uff5e"), kv("u", "\ud83d\ude00"))
    val sparkMax = Config.store(spark, d).filter(col("key") === "u")
      .agg(max(col("value"))).collect().head.getString(0)
    assert(sparkMax == "\ud83d\ude00")
    assert(row("u") == sparkMax)
  }
}

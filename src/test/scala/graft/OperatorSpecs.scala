package graft

import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.{Auth, Sources}

/** Per-JVM unique fixture root: two concurrent test JVMs each stage
  * staged-table fixtures under their own temp dir, so a shared fixed
  * /tmp path can never race another JVM's overwrite (r7 advice). */
private[graft] object TestFixtureRoot {
  val T: String =
    java.nio.file.Files.createTempDirectory("graft_test").toString
}

class ValidateSpec extends SparkSuite {
  test("v1 freshness: every user present, stale is monotone in bound") {
    val df = Validate.v1Freshness(spark, sf)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(df.count() == users)
  }

  test("assertEmpty throws on violations and passes on empty") {
    val bad = Validate.v5Paused(spark, sf) // fixture has one paused folder
    intercept[IllegalStateException](Validate.assertEmpty(bad, "paused"))
    Validate.assertEmpty(bad.filter(lit(false)), "none")
  }

  test("v3 threshold joins the broadcast limit table for every user") {
    val df = Validate.v3Threshold(spark, sf)
    assert(df.filter(col("min_limit").isNull).isEmpty)
  }

  test("v12 PSI flags a shifted distribution and clears a stable one") {
    import spark.implicits._
    val jan = 1704067200L * 1000000000L // 2024-01-01 in nanos
    val mar = 1709251200L * 1000000000L // 2024-03-01 in nanos
    // ref window: values around bin 1; current: all mass moved to bin 8
    val shifted = (1L to 200L).map(i => (i, jan + i, i, "click", 15.0, "{}")) ++
      (201L to 400L).map(i => (i, mar + i, i, "click", 85.0, "{}"))
    shifted.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/psi/events.parquet")
    val drift = Validate.v12PsiDrift(spark, s"${TestFixtureRoot.T}/psi")
      .filter(col("bin_drifted")).collect().map(_.getAs[Int]("bin")).toSet
    assert(drift == Set(1, 8), "mass moved from bin 1 to bin 8; both flag")
    // stable corpus: same value mix in both windows → no drifted bin
    val stable = (1L to 200L).map(i => (i, jan + i, i, "click", (i % 100).toDouble, "{}")) ++
      (201L to 400L).map(i => (i, mar + i, i, "click", (i % 100).toDouble, "{}"))
    stable.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/psi2/events.parquet")
    assert(Validate.v12PsiDrift(spark, s"${TestFixtureRoot.T}/psi2")
      .filter(col("bin_drifted")).isEmpty)
  }

  test("v13 seasonal baseline: slot means exact, anomaly rule symmetric") {
    val rows = ops.Validate.v13SeasonalBaseline(spark, sf).collect()
    assert(rows.nonEmpty)
    // recompute one slot's baseline by hand from the output itself
    val bySlot = rows.groupBy(r => (r.getAs[Int]("dow"), r.getAs[Int]("hr")))
    bySlot.foreach { case (_, rs) =>
      val mean_e4 = rs.map(_.getAs[Long]("n_events")).sum * 10000L / rs.length
      rs.foreach { r =>
        assert(r.getAs[Long]("baseline_e4") == mean_e4)
        val n = r.getAs[Long]("n_events")
        assert(r.getAs[Boolean]("anomaly") ==
          (n * 10000L >= mean_e4 * 3 || n * 30000L <= mean_e4))
      }
    }
  }

  test("v11 z-score flags only genuine outliers, symmetric in sign") {
    val rows = Validate.v11ZscoreOutliers(spark, sf).collect()
    assert(rows.nonEmpty, "sf0.001 events should contain |z|>3 outliers")
    rows.foreach(r => assert(math.abs(r.getAs[Long]("z_e4")) >= 30000L,
      s"|z| > 3 must imply |z_e4| >= 30000: ${r.getAs[Long]("z_e4")}"))
  }
}

class SourcesSpec extends SparkSuite {
  test("auth header construction matches the reference shapes") {
    assert(Auth.Basic("user", "pass").header ==
      ("Authorization" -> "Basic dXNlcjpwYXNz"))
    assert(Auth.Bearer("tok").header == ("Authorization" -> "Bearer tok"))
    assert(Auth.ApiKey("k").header == ("x-api-key" -> "k"))
  }

  test("permissive read soft-fails to a null row instead of erroring") {
    val df = Sources.ipifyPermissiveSrc(spark)
    val rows = df.collect()
    assert(rows.length == 1 && !rows(0).getAs[Boolean]("fetch_ok"))
  }

  test("strict read fails fast on a corrupt payload") {
    val strict = graft.sources.HttpJsonSource("bad", Sources.ipify,
      s"${Tables.FixturesDir}/s4_corrupt.txt")
    intercept[Exception](strict.read(spark).collect())
  }

  test("paginated source explodes every page's result array") {
    assert(Sources.zonesSrc(spark).count() == 3)
    assert(Sources.dnsRecordsSrc(spark).count() == 5)
  }

  test("orc round-trips a table with identical contents") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val src = Tables.nation(spark, sf)
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.collect().toSet == src.collect().toSet)
  }

  test("fs scan lists the staged fixtures with length metadata") {
    val files = Sources.fsScan(spark, Tables.FixturesDir)
    assert(files.count() >= 13)
    assert(files.filter(col("length") <= 0).isEmpty)
  }
}

class DedupSpec extends SparkSuite {
  test("dedup_lsh_calibration: bounded sample, recall above threshold, no pollution below") {
    val rows = ops.Dedup.lshCalibration(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    // fixed-size sample: EXPECTED 256 docs (binomial, std ≈ 16), so
    // the pair count is corpus-free; 1.5× expected covers ~8 sigma
    assert(total <= 384L * 383L / 2L, s"pair volume $total not bounded")
    rows.foreach { r =>
      val (bkt, n, caught) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (bkt >= 7)
        assert(caught == n,
          s"banding must catch pairs at J >= ${bkt / 10.0} (bucket $bkt)")
      if (bkt <= 2)
        assert(10000L * caught / n <= 1000,
          s"low-similarity bucket $bkt polluted: $caught/$n caught")
      // the analytic column carries the shared literal S-curve
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 10000)
    }
  }

  test("TextHash.h32 matches the SQL md5 formula incl. non-ASCII") {
    import spark.implicits._
    val samples = Seq("hello", "héllo wörld", "中文 text", "a|b\"c",
      "  spaces  ", "")
    val viaSql = samples.toDF("s")
      .selectExpr("CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT)")
      .collect().map(_.getLong(0))
    val viaKernel = samples.map(graft.functions.TextHash.h32)
    assert(viaSql.toSeq == viaKernel)
  }

  test("TextHash.tokens matches split(lower, ' ') on edge cases") {
    import spark.implicits._
    val samples = Seq("a  b", " lead", "trail ", "", "one", "A B\tC")
    val viaSql = samples.toDF("s")
      .selectExpr("split(lower(s), ' ')").collect()
      .map(_.getSeq[String](0).toList)
    val viaKernel = samples.map(graft.functions.TextHash.tokens(_).toList)
    assert(viaSql.toSeq == viaKernel)
  }

  test("minhash LSH output equals exact all-pairs Jaccard at 0.7") {
    // Precondition: ngramJaccard is only an EXACT all-pairs reference
    // while no shingle exceeds its MaxShingleDf cap — the cap drops hot
    // shingles from both the intersection and the per-doc sizes, while
    // minhashLsh scores full sets. Guard it so a fixture regeneration
    // fails here with the real reason, not a baffling LSH mismatch.
    import org.apache.spark.sql.functions._
    val maxDf = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(array_distinct(expr(
        """transform(sequence(1, greatest(size(split(lower(text), ' ')) - 2, 0)),
           i -> concat_ws(' ', element_at(split(lower(text), ' '), i),
                element_at(split(lower(text), ' '), i + 1),
                element_at(split(lower(text), ' '), i + 2)))"""))).as("s"))
      .groupBy(col("s")).count().agg(max(col("count"))).collect()(0).getLong(0)
    assume(maxDf <= Dedup.MaxShingleDf,
      s"fixture has a shingle in $maxDf docs > cap ${Dedup.MaxShingleDf}; " +
        "ngramJaccard is no longer an exact reference for this corpus")
    // Exact reference: inverted-index all-pairs (ngramJaccard uses the
    // same exact scoring at threshold 0.5; re-filter to 0.7).
    val exact = Dedup.ngramJaccard(spark, sf)
      .filter(col("j_e4") >= 7000).select("da", "db", "j_e4")
      .collect().toSet
    val lsh = Dedup.minhashLsh(spark, sf)
      .select("da", "db", "j_e4").collect().toSet
    assert(lsh == exact, s"LSH ${lsh.size} pairs vs exact ${exact.size}")
    assert(lsh.nonEmpty, "sf0.001 should contain seeded near-dup pairs")
  }

  test("simhash hamming is 0 for identical docs") {
    import spark.implicits._
    // Two identical + one distinct doc via a temp view of documents
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words that share nothing at all here friend"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/docs/documents.parquet")
    val pairs = Dedup.simhash(spark, s"${TestFixtureRoot.T}/docs").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      Set((1L, 2L, 0)))
  }

  test("keep-best picks the longest copy, lowest doc_id on ties") {
    import spark.implicits._
    Seq((1L, "the cat sat!"), (2L, "the cat sat"), (3L, "THE CAT SAT"),
      (4L, "another doc entirely"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/kb/documents.parquet")
    val kept = Dedup.keepBest(spark, s"${TestFixtureRoot.T}/kb").collect()
      .map(r => (r.getAs[Long]("keeper"), r.getAs[Long]("n_dropped"))).toSet
    // docs 1-3 share the canonical form "the cat sat"; doc 1 is longest raw
    assert(kept == Set((1L, 2L), (4L, 0L)))
  }

  test("containment matches brute-force capped-shingle enumeration") {
    // independent ground truth: rebuild the df-capped postings in the
    // JVM and enumerate pairs via an inverted index
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        graft.functions.TextHash.shingles(r.getAs[String]("text")).toSet)
      .toMap
    val df = sets.values.flatten.groupBy(identity).view.mapValues(_.size)
    val kept = sets.view
      .mapValues(_.filter(s => df(s) <= ops.Dedup.MaxShingleDf)).toMap
    val inv = kept.toSeq.flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2))
    val want = inv.values.flatMap(ids =>
        for (a <- ids; b <- ids if a < b) yield (a, b))
      .toSet.toSeq.flatMap { p: (Long, Long) =>
        val (a, b) = p
        val i = (kept(a) intersect kept(b)).size
        val c = 1.0 * i / math.min(kept(a).size, kept(b).size)
        if (c >= 0.8)
          Some((a, b, i.toLong, kept(a).size.toLong, kept(b).size.toLong,
            math.floor(c * 10000.0).toLong))
        else None
      }.sortBy(t => (t._1, t._2))
    val got = ops.Dedup.containment(spark, sf).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"),
        r.getAs[Long]("i"), r.getAs[Long]("na"), r.getAs[Long]("nb"),
        r.getAs[Long]("c_e4"))).toSeq
    assert(got == want, s"got ${got.take(3)}... want ${want.take(3)}...")
    assert(want.nonEmpty, "corpus contains containment pairs")
    // containment dominates Jaccard: every J >= 0.5 pair has c >= J
    val jac = ops.Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) ->
        r.getAs[Long]("j_e4")).toMap
    val gotMap = got.map(t => (t._1, t._2) -> t._6).toMap
    jac.foreach { case (p, j) =>
      gotMap.get(p).foreach(c => assert(c >= j, s"$p: c >= J")) }
  }

  test("exact dedup keeps one keeper per distinct text") {
    val df = Dedup.exactDedup(spark, sf)
    val distinctTexts = Tables.documents(spark, sf)
      .select("text").distinct().count()
    assert(df.count() == distinctTexts)
  }
}

class RelationalOpsSpec extends SparkSuite {
  test("ALL set-ops follow count arithmetic; corr matches direct computation") {
    val cc = Tables.customer(spark, sf).groupBy(col("c_nationkey")).count()
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val sc = Tables.supplier(spark, sf).groupBy(col("s_nationkey")).count()
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val ex = ops.Relational.setopExceptAll(spark, sf).collect()
      .map(r => r.getAs[Number]("nk").longValue -> r.getAs[Long]("n_copies")).toMap
    val wantEx = cc.map { case (k, n) => k -> (n - sc.getOrElse(k, 0L)) }
      .filter(_._2 > 0)
    assert(ex == wantEx, "EXCEPT ALL = max(la - lb, 0) copies per key")
    val in = ops.Relational.setopIntersectAll(spark, sf).collect()
      .map(r => r.getAs[Number]("nk").longValue -> r.getAs[Long]("n_copies")).toMap
    val wantIn = cc.flatMap { case (k, n) =>
      sc.get(k).map(m => k -> math.min(n, m)) }.filter(_._2 > 0)
    assert(in == wantIn, "INTERSECT ALL = min(la, lb) copies per key")
    // corr: recompute one group directly from collected (x, y)
    val xy = Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .select(hour(col("ts")).cast("long"), graft.Util.cents(col("value")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = xy.length.toLong
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxx = xy.map(t => t._1 * t._1).sum
    val syy = xy.map(t => t._2 * t._2).sum
    val sxy = xy.map(t => t._1 * t._2).sum
    val want = math.floor((n * sxy - sx * sy).toDouble /
      math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)
      * 10000.0).toLong
    val got = ops.Relational.aggCorr(spark, sf)
      .filter(col("event_type") === "view").collect()(0)
      .getAs[Long]("corr_e4")
    assert(got == want, s"corr_e4 got $got want $want")
    assert(math.abs(got) <= 10000, "correlation bounded in [-1, 1]")
  }

  test("scd2 intervals tile each user's timeline with one open row") {
    import org.apache.spark.sql.expressions.Window
    val iv = ops.Relational.scd2Intervals(spark, sf)
    // exactly one current row per user, and it carries the sentinel end
    val cur = iv.filter(col("is_current"))
    assert(cur.groupBy("user_id").count().filter(col("count") =!= 1).isEmpty)
    assert(cur.filter(col("valid_to") =!= "9999-12-31 00:00:00").isEmpty)
    // intervals are half-open, ordered, and adjacent (prev end = next start)
    assert(iv.filter(col("valid_from") >= col("valid_to")).isEmpty)
    val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    val gaps = iv.withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("next_from").isNotNull && col("valid_to") =!= col("next_from"))
    assert(gaps.isEmpty, "validity intervals must tile without gaps")
    // consecutive rows never repeat a state
    val rep = iv.withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("event_type") === col("next_type"))
    assert(rep.isEmpty, "consecutive intervals must change state")
  }

  test("geomean UDAF is partition-count invariant (exact log-space sums)") {
    import spark.implicits._
    val udaf = org.apache.spark.sql.functions.udaf(functions.GeoMeanE2)
    def run(parts: Int) = spark.range(1, 10001).select((col("id") * 37 % 9973 + 1).as("v"))
      .repartition(parts).agg(udaf(col("v"))).collect()(0).getLong(0)
    assert(run(1) == run(13) && run(13) == run(64))
    // spot value: geomean of {100} = 100 → e2 fixed point 10000
    val one = Seq(100L).toDF("v").agg(udaf(col("v"))).collect()(0).getLong(0)
    assert(math.abs(one - 10000L) <= 1L)
  }

  test("cdc merge: tombstoned keys drop out, latest update wins") {
    import spark.implicits._
    val h = 3600L * 1000000000L // one hour in nanos
    Seq(
      (1L, 1 * h, 10L, "signup", 1.0, "{}"),
      (2L, 2 * h, 10L, "click", 2.0, "{}"),   // user 10: latest = update
      (3L, 1 * h, 11L, "signup", 3.0, "{}"),
      (4L, 2 * h, 11L, "error", 0.0, "{}"),   // user 11: latest = tombstone
      (5L, 1 * h, 12L, "error", 0.0, "{}"),
      (6L, 2 * h, 12L, "view", 4.0, "{}"))    // user 12: resurrected after delete
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/cdc/events.parquet")
    val rows = ops.Relational.cdcMerge(spark, s"${TestFixtureRoot.T}/cdc").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[String]("last_op")).toMap
    assert(rows == Map(10L -> "click", 12L -> "view"))
  }

  test("ffill carries the last purchase forward; mode picks max with lex ties") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value")).collect()
    // hand ffill for one user with purchases
    val uid = ev.filter(_.getAs[String]("event_type") == "purchase")
      .head.getAs[Long]("user_id")
    val mine = ev.filter(_.getAs[Long]("user_id") == uid)
      .sortBy(r => (r.getAs[java.sql.Timestamp]("ts").getTime,
        r.getAs[java.sql.Timestamp]("ts").getNanos,
        r.getAs[Long]("event_id")))
    var lastP = -1L
    val want = mine.map { r =>
      if (r.getAs[String]("event_type") == "purchase")
        lastP = math.floor(r.getAs[Double]("value") * 100.0).toLong
      r.getAs[Long]("event_id") -> lastP
    }.toMap
    val got = ops.Relational.windowFfill(spark, sf)
      .filter(col("user_id") === uid).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("last_purchase_cents"))
      .toMap
    assert(got == want, s"user $uid forward fill")
    // mode: recompute per user
    val wantMode = ev.groupBy(_.getAs[Long]("user_id")).map { case (u, rs) =>
      val byType = rs.groupBy(_.getAs[String]("event_type"))
        .view.mapValues(_.length).toSeq
      u -> byType.minBy { case (t, n) => (-n, t) }
    }
    val gotMode = ops.Relational.aggMode(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[String]("mode_type"), r.getAs[Long]("n").toInt)).toMap
    assert(gotMode == wantMode, "mode per user")
  }

  test("triangle counts match brute-force enumeration on the real graph") {
    // independent ground truth: rebuild the undirected simple graph in
    // the JVM and enumerate triangles by intersecting adjacency sets
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("src"))
    val edges = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull && col("dst") =!= col("src"))
      .select(col("src"), col("dst")).collect()
      .map(r => {
        val (s, d) = (r.getAs[Long]("src"), r.getAs[Long]("dst"))
        (math.min(s, d), math.max(s, d))
      }).toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triCount = scala.collection.mutable.HashMap.empty[Long, Long]
    edges.foreach { case (a, b) =>
      (adj(a) intersect adj(b)).foreach { c =>
        if (c > b) // each triangle once via its sorted (a < b < c) form
          Seq(a, b, c).foreach(n => triCount(n) = triCount.getOrElse(n, 0L) + 1)
      }
    }
    val want = triCount.toSeq.sortBy { case (n, c) => (-c, n) }.take(20)
    val got = ops.Relational.graphTriangles(spark, sf).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("n_triangles"))).toSeq
    assert(got == want, s"got ${got.take(5)}... want ${want.take(5)}...")
    assert(want.nonEmpty && want.head._2 > 0, "graph actually has triangles")
  }

  test("profiler agrees with directly computed column facts") {
    val p = ops.Relational.profileOrders(spark, sf).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    val o = Tables.orders(spark, sf)
    val n = o.count()
    assert(p("o_orderkey").getAs[Long]("n_rows") == n)
    assert(p("o_orderkey").getAs[Long]("n_distinct") == n, "pk is unique")
    assert(p("o_orderkey").getAs[Long]("n_null") == 0L)
    val statuses = o.select("o_orderstatus").distinct().count()
    assert(p("o_orderstatus").getAs[Long]("n_distinct") == statuses)
    // scale shape: one branch per column, each scan pruned to exactly
    // one field (total bytes read = one full-table scan), no Expand
    val plan = ops.Relational.profileOrders(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "no multi-distinct row multiplication")
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
    assert(schemas.size == 6 && schemas.forall(!_.contains(",")),
      s"each branch must scan exactly its own column:\n$plan")
  }
}

class TextOpsSpec extends SparkSuite {
  test("funnelVerdictOf (stream map-side funnel) matches filterVerdictsFrom per doc") {
    // The stream twin scores arrivals with plain-Scala arithmetic
    // against a closure-shipped vocab; this pins every doc's verdict
    // against the batch Column formulation over the SAME corpus+vocab,
    // so a drifted float association or null-semantics mismatch fails
    // here before it can surface as a stream/batch inequality.
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val vt = docs.select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "").groupBy(col("w"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect()
    val vocab = vt.toMap
    val total = vt.map(_._2).sum
    val want = ops.Text.corpusFilterFunnel(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val got = docs.select(col("text")).as[String].collect()
      .groupBy(t => ops.Text.funnelVerdictOf(t, vocab, total))
      .map { case (v, ts) => (v, ts.length.toLong) }
    assert(got == want,
      s"scala funnel $got != batch funnel $want")
    assert(want.size >= 2, "guard: funnel must discriminate")
    // supplementary-plane parity: 21 tokens of a 2-code-point astral
    // pair = 62 code points (engine length() semantics → too short)
    // but 104 UTF-16 units — a String.length implementation would
    // wrongly clear the gate
    val astral = Array.fill(21)("𝄞𝄞").mkString(" ")
    assert(ops.Text.funnelVerdictOf(astral, vocab, total) == "1_too_short")
  }

  test("rag_fusion_rrf: consecutive ranks, monotone fused scores, leg floor") {
    val rows = ops.Text.ragFusionRrf(spark, sf).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getString(0))
    byQ.foreach { case (q, rs) =>
      val ranks = rs.map(_.getInt(1)).toSeq
      assert(ranks == (1 to rs.length), s"$q ranks: $ranks")
      val scores = rs.sortBy(_.getInt(1)).map(_.getLong(3)).toSeq
      assert(scores == scores.sorted.reverse, s"$q not monotone: $scores")
      // RRF contributions are floor(1e6/(60+rk)), rk in 1..10 per leg,
      // three legs (bm25 / ql / dense): every fused score sits in
      // [floor(1e6/70), 3*floor(1e6/61)]
      assert(scores.forall(s => s >= 14285L && s <= 3 * 16393L), s"$q: $scores")
      assert(rs.map(_.getLong(2)).distinct.length == rs.length)
    }
    // any doc fused from the bm25 leg carries at least that leg's
    // contribution at its rank (RRF guarantees nothing about
    // MEMBERSHIP of a single-leg doc in the fused top-10 — both-leg
    // docs can legitimately crowd it out)
    val bm = ops.Text.bm25Topk(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2)) -> r.getInt(1)).toMap
    rows.foreach { r =>
      bm.get((r.getString(0), r.getLong(2))).foreach { rk =>
        assert(r.getLong(3) >= 1000000L / (60 + rk),
          s"fused below its bm25 contribution: $r (bm25 rk $rk)")
      }
    }
  }

  test("t_quality_classifier: confusion matrix partitions the held-out half") {
    val cm = ops.Text.qualityClassifier(spark, sf).collect()
    val cells = cm.map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    assert(cells.forall { case ((l, p), n) =>
      Set("keep", "drop")(l) && Set("keep", "drop")(p) && n > 0 })
    val nTest = Tables.documents(spark, sf)
      .filter(md5(encode(col("doc_id").cast("string"), "utf-8")) >= "80")
      .count()
    assert(cells.map(_._2).sum == nTest,
      s"cells ${cells.toSeq} must partition the $nTest held-out docs")
    // the model ships BROADCAST to the scoring side: with auto-broadcast
    // off, the only hash-broadcast join in the plan is the hinted one
    graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      graft.Util.withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
        val plan = ops.Text.qualityClassifier(spark, sf)
          .queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
      }
    }
  }

  test("corpus_shuffle: reproducible, epoch-decorrelated, shard = two hash nibbles") {
    val a = ops.Text.corpusShuffle(spark, sf).collect()
    val b = ops.Text.corpusShuffle(spark, sf).collect()
    assert(a.toSeq == b.toSeq, "order must be a pure function of the data")
    val n = Tables.documents(spark, sf).count()
    assert(a.length == 2 * n)
    // every (epoch, shard) sequence is 1..k consecutive
    a.groupBy(r => (r.getInt(0), r.getString(1))).foreach { case (k, rs) =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length), s"$k")
    }
    // epochs are fresh permutations: most docs move (same (shard, pos)
    // across epochs would mean the epoch salt does nothing)
    val p0 = a.filter(_.getInt(0) == 0)
      .map(r => r.getLong(3) -> (r.getString(1), r.getInt(2))).toMap
    val same = a.filter(_.getInt(0) == 1)
      .count(r => p0(r.getLong(3)) == (r.getString(1), r.getInt(2)))
    assert(same < n / 4, s"$same of $n docs kept their slot across epochs")
  }

  test("t_curriculum_order: difficulty-monotone phases; (shard,pos) is the in-phase hash order") {
    val rows = ops.Text.curriculumOrder(spark, sf).collect()
    assert(rows.map(_.getLong(3)).distinct.length == rows.length,
      "every doc scheduled exactly once")
    val byPhase = rows.groupBy(_.getInt(0))
    assert(byPhase.keySet == Set(1, 2, 3), s"phases: ${byPhase.keySet}")
    // curriculum invariant: every easy doc is no harder than any doc
    // of a later phase (cutoff semantics make the boundary strict)
    assert(byPhase(1).map(_.getLong(4)).max <=
      byPhase(2).map(_.getLong(4)).min)
    assert(byPhase(2).map(_.getLong(4)).max <=
      byPhase(3).map(_.getLong(4)).min)
    // (shard, pos) = global hash order within the phase (the
    // corpus_shuffle theorem under the phase key)
    def h(phase: Int, id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$phase:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    byPhase.foreach { case (p, rs) =>
      val byCursor = rs.sortBy(r => (r.getString(1), r.getInt(2)))
        .map(r => (h(p, r.getLong(3)), r.getLong(3)))
      assert(byCursor.sameElements(byCursor.sortBy(identity)),
        s"phase $p cursor order is not the global hash order")
    }
  }

  test("t_dataloader_resume: prefix-exact cursors; next doc agrees with the shuffle order") {
    val rows = ops.Text.dataloaderResume(spark, sf).collect()
    rows.groupBy(_.getInt(0)).foreach { case (e, rs) =>
      val n = rs.map(_.getLong(2)).sum
      val k = if (e == 0) n * 37 / 100 else n * 61 / 100
      assert(rs.map(_.getLong(3)).sum == k,
        s"epoch $e: consumed docs must sum to the checkpoint k")
      // shard-major prefix: fully-done shards, then at most one
      // active shard, then untouched ones — never interleaved
      val states = rs.sortBy(_.getString(1)).map(_.getString(6)).toList
      assert(states.count(_ == "active") <= 1, s"epoch $e: >1 active shard")
      val compact = states.foldLeft(List.empty[String])(
        (a, s) => if (a.lastOption.contains(s)) a else a :+ s)
      assert(Seq(List("done", "active", "pending"),
        List("done", "pending"), List("done"), List("pending"),
        List("done", "active"), List("active", "pending"),
        List("active")).contains(compact),
        s"epoch $e: consumed set is not a shard-major prefix: $compact")
    }
    // the cursor is a faithful lookup INTO the shuffle order: every
    // open shard's next_doc_id is corpus_shuffle's doc at resume_pos
    val order = ops.Text.corpusShuffle(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getString(1), r.getInt(2).toLong),
        r.getLong(3))).toMap
    val open = rows.filter(!_.isNullAt(4))
    assert(open.nonEmpty, "guard: some shard must be resumable")
    open.foreach { r =>
      assert(order((r.getInt(0), r.getString(1), r.getLong(4))) ==
        r.getLong(5),
        s"next_doc mismatch at (${r.getInt(0)}, ${r.getString(1)})")
    }
  }

  test("corpus_version_diff: superset snapshot, strict-append bins, additive with the manifest") {
    val d = ops.Text.corpusVersionDiff(spark, sf).collect()
    assert(d.nonEmpty)
    d.foreach { r =>
      assert(r.getBoolean(10), s"frozen_ok violated in cell ${r.toSeq}")
      assert(r.getLong(3) - r.getLong(2) == r.getLong(8) &&
        r.getLong(5) - r.getLong(4) == r.getLong(9),
        "v2 - v1 must equal the append delta exactly (pure superset)")
    }
    // the summary is additive with the manifest it aggregates
    val man = ops.Text.corpusAppendPipeline(spark, sf)
    assert(d.map(_.getLong(3)).sum == man.count(),
      "n_docs_v2 must total the appended manifest")
    assert(d.map(_.getLong(8)).sum ==
      man.filter(col("is_delta")).count(),
      "docs_added must total the delta manifest")
  }

  test("corpus_version_log: linear 5-version chain, compact boundary read-equal") {
    val log = ops.Text.corpusVersionLog(spark, sf).collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        r.getString(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(log.map(_._1).toSeq == (1 to 5).toSeq, "five versions")
    assert(log.map(_._2).toSeq ==
      Seq(None, Some(1), Some(2), Some(3), Some(4)), "linear parent chain")
    assert(log.map(_._3).toSeq ==
      Seq("base", "append", "retract", "reinstate", "compact"))
    val n = log.map(t => t._1 -> t._4).toMap
    assert(n(2) > n(1), "append grows the corpus")
    assert(n(3) < n(2), "retract shrinks it")
    assert(n(4) > n(3) && n(4) <= n(2), "reinstate restores a strict subset")
    assert(n(5) == n(4) && log(4)._5 == log(3)._5,
      "compact is volume-preserving")
    // the asof read agrees with the log, and the compact boundary is
    // row-for-row read-equal: asof(5) — physical artifact — equals
    // asof(4) — manifest arithmetic — as SETS of full rows
    val asof = ops.Text.corpusReadAsof(spark, sf).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))))
    val byV = asof.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (1 to 5).foreach(v =>
      assert(byV(v).size.toLong == n(v), s"asof(v$v) count vs log"))
    assert(byV(5) == byV(4), "compaction: physical read == pre-compact view")
    assert(byV(3).subsetOf(byV(2)) && byV(3).subsetOf(byV(4)) &&
      byV(4).subsetOf(byV(2)), "chain set containments")
  }

  test("corpus_shard_balance: audits the shuffle's own shard occupancy exactly") {
    val rows = ops.Text.corpusShardBalance(spark, sf).collect()
    assert(rows.length == 2, "one audit row per epoch")
    // the audit totals the shuffle it audits — same shards, same docs
    val occ = ops.Text.corpusShuffle(spark, sf).collect()
      .groupBy(r => (r.getInt(0), r.getString(1)))
      .view.mapValues(_.length).toMap
    rows.foreach { r =>
      val e = r.getAs[Int]("epoch")
      val mine = occ.collect { case ((`e`, _), n) => n }.toSeq
      assert(r.getAs[Long]("n_shards") == mine.length &&
        r.getAs[Long]("n_docs") == mine.sum &&
        r.getAs[Long]("min_docs") == mine.min &&
        r.getAs[Long]("max_docs") == mine.max,
        s"epoch $e audit drifted from corpus_shuffle")
      assert(r.getAs[Long]("skew_e4") ==
        mine.max.toLong * mine.length * 10000L / mine.sum,
        s"epoch $e skew fixed point")
      // the decomposition the scale story assumes: many shards, and
      // no shard holding a constant fraction of the corpus
      assert(mine.length > 64 && mine.max.toLong * 20 < mine.sum,
        s"epoch $e: degenerate sharding (${mine.length} shards, max ${mine.max})")
    }
  }

  test("t_fix_encoding: plants repair exactly; clean text is a no-op; " +
      "eval == codegen") {
    import graft.functions.EncodingRepair
    // direct kernel checks: the ftfy shapes
    assert(EncodingRepair.repair("cafÃ©")._1 == "café",
      "double-encoded é must un-wind")
    assert(EncodingRepair.repair("cafÃ©") ==
      (("café", 1)))
    val nfd = java.text.Normalizer.normalize("café",
      java.text.Normalizer.Form.NFD)
    assert(nfd.length == 5 && EncodingRepair.repair(nfd) == (("café", 0)),
      "NFD folds to NFC with zero decode passes")
    assert(EncodingRepair.repair("café") == (("café", 0)),
      "proper UTF-8 must be untouched")
    assert(EncodingRepair.repair("plain ascii") == (("plain ascii", 0)))
    // cp1252 smart-quote mojibake: ’ mis-decoded as â€™
    assert(EncodingRepair.repair("itâ€™s")._1 == "it’s")
    val rows = ops.Text.tFixEncoding(spark, sf).collect()
    assert(rows.length == 240)
    rows.foreach { r =>
      val kind = r.getInt(1)
      assert(r.getInt(3) == (kind match {
        case 3 => 1; case 4 => 2; case _ => 0 }),
        s"doc ${r.getLong(0)} kind $kind pass count")
      assert(r.getBoolean(4) == (kind >= 2), "changed iff corrupted")
    }
    // interpreted vs codegen agreement on the fixture column
    import org.apache.spark.sql.functions.col
    val fixedDf = spark.read.parquet(ops.Text.mojibakePath)
      .select(col("doc_id"),
        graft.functions.EncodingExpr.fix_encoding(col("corrupted"))
          .as("f"), col("clean"))
    val interp = graft.Util.withConf(spark,
        "spark.sql.codegen.wholeStage", "false") {
      fixedDf.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val gen = fixedDf.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(interp == gen, "interpreted and codegen paths must agree")
  }

  test("t_dataset_card: one exact datasheet row per source, internally consistent") {
    val docs = Tables.documents(spark, sf).collect()
    val rows = ops.Text.datasetCard(spark, sf).collect()
    assert(rows.length == docs.map(_.getAs[String]("source")).distinct.length,
      "one card per source")
    val bySrc = docs.groupBy(_.getAs[String]("source"))
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val ds = bySrc(src)
      assert(r.getAs[Long]("n_docs") == ds.length)
      assert(r.getAs[Long]("n_chars") ==
        ds.map(_.getAs[Long]("n_chars")).sum)
      assert(r.getAs[Long]("n_langs") ==
        ds.map(_.getAs[String]("lang")).distinct.length)
      // dominant language with the deterministic (count desc, lang asc)
      // tie-break, recomputed in plain Scala
      val langCounts = ds.groupBy(_.getAs[String]("lang"))
        .view.mapValues(_.length).toSeq
      val top = langCounts.minBy { case (l, n) => (-n, l) }
      assert(r.getAs[String]("top_lang") == top._1 &&
        r.getAs[Long]("top_lang_docs") == top._2, s"top lang of $src")
      // the card's mean is the exact integer-division fixed point
      assert(r.getAs[Long]("mean_tokens_e2") ==
        100 * r.getAs[Long]("n_tokens") / r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("min_tokens") <= r.getAs[Long]("max_tokens"))
      // dup mass counts ALL members of multi-doc digest groups
      val dupMass = ds.groupBy(_.getAs[String]("text"))
        .values.filter(_.length > 1).map(_.length).sum
      assert(r.getAs[Long]("dup_docs") == dupMass, s"dup mass of $src")
    }
  }

  test("t_pack_lossmask: contiguous within-shard spans, consistent with the packing") {
    val rows = ops.Text.packLossmask(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(rows.length == Tables.documents(spark, sf).count().toInt,
      "one mask span per document")
    rows.foreach { case (id, _, _, s, e, c) =>
      assert(s >= 0 && s < 2048 && e > s, s"span [$s, $e) of doc $id")
      assert(c == (e > 2048), s"crosses_budget flag of doc $id")
    }
    // the spans tile each shard's token stream exactly: in the
    // shard's global coordinate (bin*2048 + tok), every next span
    // starts where the previous one ends — no gap, no overlap
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      val sorted = rs.sortBy(_._1).toSeq
      assert(sorted.head._4 == 0L && sorted.head._3 == 0L,
        s"shard $shard must start at bin 0, offset 0")
      sorted.sliding(2).foreach {
        case Seq((_, _, b1, _, e1, _), (_, _, b2, s2, _, _)) =>
          assert(b1 * 2048 + e1 == b2 * 2048 + s2,
            s"gap or overlap in shard $shard between bins $b1 and $b2")
        case _ => ()
      }
    }
    // mask and packing derive from one cumulative sum: bins agree
    val packed = ops.Text.packSequences(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    rows.foreach { case (id, sh, b, _, _, _) =>
      assert(packed(id) == (sh, b), s"doc $id bin drifted from the packing")
    }
  }

  test("corpus_reinstate_run: cleared docs restored at original coordinates") {
    val rows = ops.Text.corpusReinstateRun(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[String]("verdict") == "restored"),
      "guard: at least one bin must restore a cleared doc")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("reinstate_ok"), s"reconciliation: $r")
      assert(r.getAs[Long]("n_cleared") <= r.getAs[Long]("n_retracted"))
      assert(r.getAs[Long]("n_after") ==
        r.getAs[Long]("n_before") - r.getAs[Long]("n_retracted") +
          r.getAs[Long]("n_cleared"))
    }
    // the reinstate overlay holds EXACTLY the touched cells' live set:
    // cleared docs present, still-retracted docs absent
    val over = spark.read.parquet(graft.Artifacts.path(spark,
      "graft_corpus_reinstate", sf, Seq(s"$sf/documents.parquet")))
    assert(over.filter(col("doc_id") % 89 === 3 && col("doc_id") % 2 =!= 0)
      .count() == 0, "still-retracted docs must not be reinstated")
    val clearedInOverlay = over
      .filter(col("doc_id") % 89 === 3 && col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("split").cast("string"),
        col("shard").cast("long"), col("bin"))
    // coordinates are the manifest's own frozen coordinates
    val man = ops.Text.corpusBuildPipeline(spark, sf)
      .filter(col("doc_id") % 89 === 3 && col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("split"), col("shard"), col("bin"))
    assert(clearedInOverlay.exceptAll(man).count() == 0 &&
      man.exceptAll(clearedInOverlay).count() == 0,
      "every cleared doc restored at exactly its frozen coordinates")
  }

  test("rag_context_pack: greedy rank-order fill, exact offsets, budget respected") {
    val rows = ops.Text.ragContextPack(spark, sf).collect()
      .map(r => (r.getAs[String]("query_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("offset"),
        r.getAs[Long]("n_packed"), r.getAs[Boolean]("truncated")))
    assert(rows.nonEmpty)
    val fused = ops.Text.ragFusionRrf(spark, sf).collect()
      .map(r => (r.getAs[String]("query_id"), r.getAs[Int]("rk")) ->
        r.getAs[Long]("doc_id")).toMap
    val nTok = Tables.documents(spark, sf)
      .select(col("doc_id"), size(ops.Text.tokens).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      // ranks form a prefix of the fusion order — greedy never skips
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq,
        s"$q: packed ranks must be a prefix")
      var off = 0L
      sorted.foreach { case (_, rk, doc, o, np, trunc) =>
        assert(fused((q, rk)) == doc, s"$q rank $rk doc drifted from fusion")
        assert(o == off, s"$q rank $rk offset")
        assert(np == math.min(nTok(doc), 512L - o), s"$q rank $rk n_packed")
        assert(trunc == (o + nTok(doc) > 512L), s"$q rank $rk truncated")
        off += nTok(doc)
      }
      // everything within budget; at most the LAST doc truncates
      assert(sorted.init.forall(!_._6), s"$q: only the cut doc truncates")
      assert(sorted.map(r => r._4 + r._5).max <= 512L, s"$q: budget")
    }
  }

  test("fusionOverlap: a zero-overlap query still emits its row with " +
      "recall_ok=false (r16 advice)") {
    import spark.implicits._
    // q1 overlaps fully, q2 shares NOTHING — the old inner-join shape
    // dropped q2 from the output entirely, so a total recall miss
    // surfaced as a missing row instead of a named breach
    val ivf = Seq.tabulate(10)(i => ("q1", i.toLong)) ++
      Seq.tabulate(10)(i => ("q2", i.toLong))
    val exact = Seq.tabulate(10)(i => ("q1", i.toLong)) ++
      Seq.tabulate(10)(i => ("q2", 100L + i))
    val got = ops.Text.fusionOverlap(
        ivf.toDF("query_id", "doc_id"), exact.toDF("query_id", "doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq == Seq(
      ("q1", ops.Text.IvfFusionOverlapFloor, true), ("q2", 0L, false)),
      s"breach must be named, not dropped: ${got.toSeq}")
  }

  test("rag_fusion_ivf: gate clears; IVF leg order-consistent with exact leg") {
    val gate = ops.Text.ragFusionIvf(spark, sf).collect()
    assert(gate.length == 4, "one gate row per retrieval query")
    gate.foreach { r =>
      assert(r.getAs[Boolean]("recall_ok"), s"${r.getString(0)} gate breach")
      assert(r.getAs[Long]("hits_capped") == ops.Text.IvfFusionOverlapFloor)
    }
    // re-rank exactness: the IVF leg scores candidates with the exact
    // leg's bitwise formula, so docs present in BOTH legs' top-10 must
    // appear in the same relative order (the IVF leg can only MISS
    // docs via cell pruning, never re-order survivors)
    val ivf = ops.Text.denseIvfTopk(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val exact = ops.Text.denseTopk(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    ivf.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length).toSeq,
        s"$q: IVF leg ranks must be contiguous")
      assert(rs.map(_._3).distinct.length == rs.length, s"$q: dup docs")
      // shared docs keep their relative order across the two legs
      val exOrder = exact.filter(_._1 == q).sortBy(_._2).map(_._3)
      val shared = rs.sortBy(_._2).map(_._3).filter(exOrder.contains)
      assert(shared.toSeq == exOrder.filter(shared.contains).toSeq,
        s"$q: IVF re-rank re-ordered docs shared with the exact leg")
    }
  }

  test("rag_context_pack_ivf: structural pack gates clear for every query") {
    val rows = ops.Text.ragContextPackIvf(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs_capped") == 1L, s"${r.getString(0)} empty")
      assert(r.getAs[Boolean]("prefix_ok"), s"${r.getString(0)} prefix")
      assert(r.getAs[Boolean]("budget_ok"), s"${r.getString(0)} budget")
      assert(r.getAs[Boolean]("offsets_ok"), s"${r.getString(0)} offsets")
    }
  }

  test("corpus_card_diff: additive with the version manifest, shares reconcile") {
    val rows = ops.Text.corpusCardDiff(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("docs_added") ==
        r.getAs[Long]("n_docs_v2") - r.getAs[Long]("n_docs_v1"))
      assert(r.getAs[Long]("tokens_added") ==
        r.getAs[Long]("tok_v2") - r.getAs[Long]("tok_v1"))
      assert(r.getAs[Long]("n_docs_v2") >= r.getAs[Long]("n_docs_v1"),
        "append-only: no source shrinks")
    }
    // the per-source diff totals the cell-level version diff exactly
    val cells = ops.Text.corpusVersionDiff(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs_v2")).sum ==
      cells.map(_.getAs[Long]("n_docs_v2")).sum)
    assert(rows.map(_.getAs[Long]("docs_added")).sum ==
      cells.map(_.getAs[Long]("docs_added")).sum)
    // share shifts are zero-sum up to integer-division remainders
    val shift = rows.map(_.getAs[Long]("share_shift_e4")).sum
    assert(math.abs(shift) <= rows.length.toLong,
      s"share shifts must be ~zero-sum, got $shift")
  }

  test("t_tokenizer_fertility: exact sums; ASCII corpus makes bytes == chars") {
    val f = ops.Text.tokenizerFertility(spark, sf).collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      // the test corpus is all-ASCII: byte and code-point fertility
      // must coincide exactly; both diverge on multi-byte text
      assert(r.getLong(2) == r.getLong(3), "bytes != chars on ASCII corpus")
      assert(r.getLong(6) == r.getLong(7))
      // BPE inflates ws tokens within the realistic small-vocab band
      val e4 = r.getLong(8)
      assert(e4 > 10000 && e4 < 20000, s"bpe/ws ratio $e4 out of band")
    }
    // totals agree with t_token_bpe's per-doc counts
    val tb = ops.Text.tokenBpe(spark, sf)
      .agg(sum(col("bpe_tokens")), sum(col("ws_tokens"))).collect()(0)
    assert(f.map(_.getLong(5)).sum == tb.getLong(0) &&
      f.map(_.getLong(4)).sum == tb.getLong(1),
      "fertility sums must equal t_token_bpe's totals")
  }

  test("corpus_drop_lineage: total partition of docs; keep set equals the manifest") {
    val lin = ops.Text.corpusDropLineage(spark, sf)
    val nDocs = Tables.documents(spark, sf).count()
    assert(lin.count() == nDocs, "one lineage row per document")
    val kept = lin.filter(col("gate") === "8_kept").select("doc_id")
    val man = ops.Text.corpusBuildPipeline(spark, sf).select("doc_id")
    assert(kept.exceptAll(man).count() == 0 &&
      man.exceptAll(kept).count() == 0,
      "8_kept must be exactly the build manifest's doc set")
    // lineage refines the funnel aggregate: funnel-gate counts match
    // corpus_filter_funnel's non-keep rows for docs passing html+lang
    val gates = lin.groupBy("gate").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gates.keySet.subsetOf(Set("1_html", "2_lang",
      "3_funnel_too_short", "3_funnel_low_stopword", "3_funnel_repetitive",
      "3_funnel_high_surprisal", "4_exact", "5_near", "6_bench",
      "7_contam", "8_kept")), gates.toString)
  }

  test("corpus_retract_run: reconciled scrub, overlay rewrites touched cells only") {
    val rows = ops.Text.corpusRetractRun(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(8)), "every bin must reconcile")
    rows.foreach { r =>
      val (nb, nr, na, v) =
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getString(7))
      assert(na == nb - nr, r.toString)
      val want = if (nr == 0) "intact" else if (nr == nb) "emptied"
        else "scrubbed"
      assert(v == want, r.toString)
    }
    // minimal rewrite: the overlay holds ONLY touched cells — and a
    // touched cell whose survivors are ALL retracted writes no
    // split=/shard= directory at all (r13 advice: equality against
    // `touched` would fail spuriously on such corpora), so the exact
    // expected set is touched ∩ has-a-survivor
    val cellAgg = ops.Text.corpusBuildPipeline(spark, sf)
      .groupBy(col("split"), col("shard"))
      .agg(sum(when(col("doc_id") % 89 === 3, 1L).otherwise(0L)).as("nr"),
        count(lit(1)).as("nb"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val touched = cellAgg.filter(_._2._1 > 0).keySet
    val touchedWithSurvivor =
      cellAgg.filter { case (_, (nr, nb)) => nr > 0 && nb > nr }.keySet
    if (touched.nonEmpty) {
      val over = graft.Artifacts.path(spark, "graft_corpus_retract", sf,
        Seq(s"$sf/documents.parquet"))
      val cells = for {
        s <- Option(new java.io.File(over).listFiles()).toSeq.flatten
        if s.isDirectory && s.getName.startsWith("split=")
        h <- Option(s.listFiles()).toSeq.flatten
        if h.isDirectory && h.getName.startsWith("shard=")
      } yield (s.getName.stripPrefix("split="),
        h.getName.stripPrefix("shard=").toLong)
      assert(cells.toSet.subsetOf(touched),
        s"overlay cells ${cells.toSet} outside touched $touched")
      assert(cells.toSet == touchedWithSurvivor,
        s"overlay cells ${cells.toSet} != touched-with-survivor " +
          s"$touchedWithSurvivor")
    }
  }

  test("t_mixture_draw: executed draw reconciles with the planner per source") {
    val draw = ops.Text.mixtureDraw(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(draw.nonEmpty)
    assert(draw.forall(_._6), s"every source must close its draw: ${draw.toSeq}")
    // the twin uses the PLANNER's own allocations: planned_tokens equal
    val plan = ops.Text.mixturePlan(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    draw.foreach { case (src, _, _, drawn, planned, _) =>
      assert(plan(src) == planned, s"$src: plan ${plan(src)} != twin $planned")
      assert(drawn >= planned, s"$src under-drew: $drawn < $planned")
    }
  }

  test("rag_eval_recall: hits bounded by rel and 10; fusion >= lone-leg floor") {
    val rows = ops.Text.ragEvalRecall(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.length == ops.Text.RetrievalQueries.map(_._1).distinct.length)
    rows.foreach { case (q, rel, hb, hq, hd, hr, re4) =>
      assert(hb <= rel.min(10) && hq <= rel.min(10) &&
        hd <= rel.min(10) && hr <= rel.min(10), q)
      assert(re4 == (if (rel > 0) hr * 10000 / rel else 0L), q)
    }
  }

  test("bloom decontam is row-identical to the exact broadcast-set path") {
    // The bloom only PRUNES (exact verify decides), so the two plans
    // must agree bit-for-bit on every doc — including contam_frac_e4,
    // which would drift if a false positive ever survived the verify.
    val exact = ops.Text.decontam(spark, sf).collect().toSeq
    val bloom = ops.Text.decontamBloom(spark, sf).collect().toSeq
    assert(bloom == exact)
    assert(exact.nonEmpty)
  }

  test("decontam bloom probe is codegen'd: might_contain in plan, no UDF node") {
    graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      val plan = ops.Text.decontamBloom(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"probe must be the native BloomFilterMightContain:\n${plan.take(1500)}")
      assert(!plan.contains("UDF"),
        s"probe stage must not box through a UDF:\n${plan.take(1500)}")
    }
  }

  test("bloom prefilter passes true matches plus at most the fpp sliver") {
    // The scale claim is that the verify join sees |matches| +
    // fpp·|non-matches| rows, never the whole corpus side. Rebuild the
    // same filter the operator builds and measure its pass rate: every
    // true match MUST pass (no false negatives, or correctness dies),
    // and non-matching shingles pass at ≲ 3× the 1 % fpp.
    import spark.implicits._
    val shingled = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.functions.TextHash.shingles(t).map(s => (id, s)) }
      .toDF("doc_id", "s")
    val bench = shingled.filter(col("doc_id") % 97 === 0)
      .select("s").distinct()
    val benchSet = bench.as[String].collect().toSet
    val bf = bench.stat.bloomFilter("s", math.max(benchSet.size, 1), 0.01)
    val scan = shingled.filter(col("doc_id") % 97 =!= 0)
      .select("s").as[String].collect()
    val (matches, nonMatches) = scan.partition(benchSet.contains)
    assert(matches.forall(bf.mightContain), "bloom false negative")
    val fpRate =
      nonMatches.count(bf.mightContain).toDouble / math.max(nonMatches.length, 1)
    assert(fpRate <= 0.03, s"fp rate $fpRate exceeds 3x the 1% target")
  }

  test("dsir weights: feature accounting exact, target domain scores higher") {
    // structural: features = unigrams + consecutive bigrams, so
    // n_feats == 2*n_tokens - 1 for every tokenized doc
    val nf = ops.Text.dsirWeights(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Long]("weight_e4"))).toMap
    val nt = ops.Text.tokenStats(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_tokens")).toMap
    nf.foreach { case (d, (feats, _)) =>
      assert(feats == 2L * nt(d) - 1, s"doc $d: $feats feats for ${nt(d)} tokens")
    }
    // directional (the Gibbs-inequality property DSIR relies on): the
    // per-feature average log-ratio over TARGET docs must not fall
    // below the corpus-wide average — the target sample is the very
    // distribution λ was trained to upweight
    val srcOf = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def avg(docs: Iterable[Long]): Double = {
      val rows = docs.map(nf)
      rows.map(_._2).sum.toDouble / rows.map(_._1).sum
    }
    val target = nf.keys.filter(d =>
      ops.Text.DsirTargetSources.contains(srcOf(d)))
    val aT = avg(target); val aAll = avg(nf.keys)
    info(f"per-feature avg weight_e4: target $aT%.1f corpus $aAll%.1f")
    assert(aT >= aAll, s"target domain must score at least the corpus mean: $aT vs $aAll")
  }

  test("char entropy: zero for degenerate text, ln(k) for uniform chars") {
    import spark.implicits._
    Seq((1L, "aaaaaaaa"),          // single symbol: H = 0 exactly
      (2L, "abcdefgh"),            // 8 uniform chars: H = ln 8
      (3L, "aab"),                 // H = 2/3 ln(3/2) + 1/3 ln 3
      // NFD combining sequence: "é" as e + U+0301. Both Java's
      // '(?s).' and DuckDB's string_split(text, '') split CODE
      // POINTS, not grapheme clusters, so this doc has TWO distinct
      // symbols (verified against DuckDB 1.x: string_split('e'||
      // chr(769), '') = ['e', chr(769)]) — pinning the
      // code-point-vs-grapheme assumption the oracle parity
      // hinges on (r7 advice).
      (4L, "e\u0301e\u0301"))   // 2 symbols × 2 → H = ln 2
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/ent/documents.parquet")
    val rows = ops.Text.charEntropy(spark, s"${TestFixtureRoot.T}/ent").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_distinct_chars"), r.getAs[Long]("entropy_e8"))).toMap
    assert(rows(1L) == ((1L, 0L)))
    assert(rows(2L)._1 == 8L)
    val ln8e8 = (8 * math.floor((1.0 / 8) * math.log(8.0) * 1e8)).toLong
    assert(rows(2L)._2 == ln8e8, s"uniform-8 entropy ${rows(2L)._2} != $ln8e8")
    val h3 = math.floor((2.0 / 3) * math.log(3.0 / 2) * 1e8).toLong +
      math.floor((1.0 / 3) * math.log(3.0) * 1e8).toLong
    assert(rows(3L)._2 == h3)
    val ln2e8 = (2 * math.floor(0.5 * math.log(2.0) * 1e8)).toLong
    assert(rows(4L) == ((2L, ln2e8)),
      s"NFD combining sequence must count code points: ${rows(4L)}")
  }

  test("repetition: degenerate doc flags, varied doc passes") {
    import spark.implicits._
    Seq((1L, "spam spam spam spam spam spam"),
      (2L, "one two three four five six seven eight"),
      (3L, "solo"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/rep/documents.parquet")
    val rows = ops.Text.repetition(spark, s"${TestFixtureRoot.T}/rep").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Long]("top_token_frac_e4") == 10000L)
    assert(rows(1L).getAs[Boolean]("repetitive"))
    assert(!rows(2L).getAs[Boolean]("repetitive"))
    // single-token doc: no bigrams, left-join null → 0, not repetitive flag crash
    assert(rows(3L).getAs[Long]("top_bigram_frac_e4") == 0L)
  }

  test("decontam: doc sharing a shingle with the benchmark is flagged") {
    import spark.implicits._
    // doc 0 (0 % 97 == 0) is the benchmark; doc 5 copies its opening
    // shingle, doc 6 is clean. Docs with <3 tokens drop out entirely.
    Seq((0L, "alpha beta gamma delta"),
      (5L, "alpha beta gamma epsilon"),
      (6L, "zeta eta theta iota"),
      (7L, "too short"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/dc/documents.parquet")
    val rows = ops.Text.decontam(spark, s"${TestFixtureRoot.T}/dc").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(5L, 6L))
    assert(rows(5L).getAs[Boolean]("contaminated"))
    assert(rows(5L).getAs[Long]("n_matched") == 1L)
    assert(!rows(6L).getAs[Boolean]("contaminated"))
  }

  test("unigram surprisal matches hand computation on a 2-word corpus") {
    import spark.implicits._
    // corpus: "a a a b" → p(a)=3/4, p(b)=1/4
    Seq((1L, "a a a"), (2L, "b"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/ug/documents.parquet")
    val rows = ops.Text.unigramLogprob(spark, s"${TestFixtureRoot.T}/ug").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val sA = math.floor(-math.log(3.0 / 4.0) * 10000.0).toLong
    val sB = math.floor(-math.log(1.0 / 4.0) * 10000.0).toLong
    assert(rows(1L).getAs[Long]("sum_surprisal_e4") == 3 * sA)
    assert(rows(2L).getAs[Long]("sum_surprisal_e4") == sB)
    assert(rows(1L).getAs[Long]("avg_surprisal_e4") == sA)
  }

  test("bigram surprisal matches hand computation on a tiny corpus") {
    import spark.implicits._
    // corpus: doc1 "a b a b", doc2 "a a" →
    // c1: a=4, b=2, T=6; c2: (a,b)=2, (b,a)=1, (a,a)=1
    Seq((1L, "a b a b"), (2L, "a a"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/bg/documents.parquet")
    val rows = ops.Text.bigramLogprob(spark, s"${TestFixtureRoot.T}/bg").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    def s(p: Double) = math.floor(-math.log(p) * 10000.0).toLong
    // doc1: first 'a' = -ln(4/6); 'b'|a = -ln(2/4); 'a'|b = -ln(1/2); 'b'|a
    val d1 = s(4.0 / 6) + s(2.0 / 4) + s(1.0 / 2) + s(2.0 / 4)
    // doc2: first 'a' = -ln(4/6); 'a'|a = -ln(1/4)
    val d2 = s(4.0 / 6) + s(1.0 / 4)
    assert(rows(1L).getAs[Long]("sum_surprisal_e4") == d1, "doc1")
    assert(rows(2L).getAs[Long]("sum_surprisal_e4") == d2, "doc2")
    assert(rows(1L).getAs[Long]("n_tokens") == 4)
  }

  test("source KL is ~zero for identical shards, positive for skewed") {
    import spark.implicits._
    Seq((1L, "x y z", "same1"), (2L, "x y z", "same2"),
      (3L, "x x x x x x", "skewed"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/kl/documents.parquet")
    val rows = ops.Text.sourceKl(spark, s"${TestFixtureRoot.T}/kl").collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("kl_e8")).toMap
    assert(rows("skewed") > rows("same1"), "skewed shard diverges most")
    assert(rows("same1") == rows("same2"), "identical shards score identically")
  }

  test("perplexity buckets: order-consistent terciles, every doc tagged") {
    val rows = ops.Text.perplexityBuckets(spark, sf).collect()
      .map(r => (r.getAs[String]("bucket"), r.getAs[Long]("avg_surprisal_e4")))
    assert(rows.length == 500, "one verdict per document")
    val byB = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(Set("head", "middle", "tail").subsetOf(byB.keySet),
      s"all three buckets populated: ${byB.keySet}")
    // bucket assignment is monotone in the score: max(head) <= min(middle)
    // can tie at the cutoff but never invert
    assert(byB("head").max <= byB("middle").min,
      "head scores never exceed middle scores")
    assert(byB("middle").max <= byB("tail").min,
      "middle scores never exceed tail scores")
    // cutoffs trained on a 25% sample still split the corpus roughly in
    // thirds (the sample is uniform over doc ids)
    assert(byB.values.forall(v => v.length > 50 && v.length < 450),
      s"no degenerate bucket: ${byB.view.mapValues(_.length).toMap}")
  }

  test("chunk dedup matches a hand computation over every document") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val perDoc = texts.map { case (id, t) =>
      val ws = t.toLowerCase.split(" ", -1)
      id -> (0 to math.max(ws.length - 1, 0) by 16)
        .map(s => md5hex(ws.slice(s, s + 16).mkString(" ")))
    }.toMap
    val nDocs = perDoc.values.flatMap(_.distinct).groupBy(identity)
      .view.mapValues(_.size).toMap
    val rows = ops.Text.chunkDedup(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val fps = perDoc(id)
      val expShared = fps.count(f => nDocs(f) > 1).toLong
      assert(r.getAs[Long]("n_chunks") == fps.length.toLong, s"doc $id chunks")
      assert(r.getAs[Long]("n_shared") == expShared, s"doc $id shared")
      assert(r.getAs[Boolean]("boilerplate") == (2 * expShared >= fps.length))
    }
    // the corpus exercises both sides of the verdict
    assert(rows.exists(_.getAs[Long]("n_shared") > 0), "sharing exists")
    assert(rows.exists(_.getAs[Long]("n_shared") == 0), "unique docs exist")
  }

  test("mixture plan: budget conserved within rounding, temperature flattens") {
    val rows = ops.Text.mixturePlan(spark, sf).collect()
    assert(rows.length == 20, "one plan row per source")
    val planned = rows.map(_.getAs[Long]("planned_tokens")).sum
    // integer flooring loses < 1 token per source
    assert(planned <= 2000000L && planned > 2000000L - rows.length,
      s"allocations sum to the budget minus rounding, got $planned")
    // n^0.7 compresses the range: the planned share ratio between the
    // largest and smallest source is strictly tighter than the raw
    // token ratio, and ordering by size is preserved
    val bySize = rows.sortBy(_.getAs[Long]("tok_s"))
    val (lo, hi) = (bySize.head, bySize.last)
    val rawRatio = hi.getAs[Long]("tok_s").toDouble / lo.getAs[Long]("tok_s")
    val planRatio = hi.getAs[Long]("planned_tokens").toDouble /
      lo.getAs[Long]("planned_tokens")
    assert(planRatio < rawRatio, "temperature must flatten the mix")
    assert(planRatio > 1.0, "but still favor the bigger source")
    // epochs_e4 is exactly planned/available in e4 fixed point
    rows.foreach { r =>
      assert(r.getAs[Long]("epochs_e4") ==
        r.getAs[Long]("planned_tokens") * 10000L / r.getAs[Long]("tok_s"))
      assert(r.getAs[Boolean]("upsampled") ==
        (r.getAs[Long]("epochs_e4") > 10000L))
    }
  }

  test("pii redact: trailer is scrubbed, counts match, text is preserved") {
    val row = ops.Text.piiRedact(spark, sf)
      .filter(col("doc_id") === 3).collect()(0)
    assert(row.getAs[Int]("n_emails") == 1)
    assert(row.getAs[Int]("n_urls") == 1)
    assert(row.getAs[Int]("n_phones") == 1)
    val red = row.getAs[String]("redacted")
    assert(red.contains("<EMAIL>") && red.contains("<URL>") &&
      red.contains("<PHONE>"))
    assert(!red.contains("@") && !red.contains("http"))
  }
}

class VectorSpec extends SparkSuite {
  test("ann_index_retract: CoW overlay holds exactly the touched cells; no retracted vec lives") {
    val rows = Vector.annIndexRetract(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("recall_ok"), s"survivor recall floor: $r")
      assert(r.getAs[Boolean]("cow_ok"), s"per-cell reconciliation: $r")
    }
    val base = spark.read.parquet(Vector.retractBaseAssign(spark, sf))
    val over = spark.read.parquet(graft.Artifacts.path(spark,
      "graft_ann_index/retract_overlay", sf, Seq(s"$sf/embeddings.parquet")))
    // overlay cells == exactly the cells that contained a retracted vec
    val touched = base.filter(pmod(col("vec_id"), lit(89L)) === 3L)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val overCells = over.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(overCells.subsetOf(touched),
      "overlay rewrote a cell with no retracted vector")
    assert(touched.filterNot(overCells).forall(c =>
      base.filter(col("cell") === c &&
        pmod(col("vec_id"), lit(89L)) =!= 3L).count() == 0),
      "a touched cell with survivors is missing from the overlay")
    // no retracted vector is reachable through the live index
    assert(over.filter(pmod(col("vec_id"), lit(89L)) === 3L).count() == 0,
      "overlay still carries retracted vectors")
    // the base cell dirs the scrub didn't touch exist untouched (CoW:
    // the overlay is a sibling, the base is immutable by construction)
    assert(base.count() == spark.read.parquet(s"$sf/embeddings.parquet")
      .count(), "base assignment must still cover the full corpus")
  }

  test("retractIndexGates: a fully-retracted cell leaves no base rows in the live index") {
    import spark.implicits._
    // synthetic layout planting the edge the corpora can't: cell 7
    // holds ONLY retracted ids (% 89 == 3), everything else cell 0 —
    // the scrub of cell 7 writes a part-less overlay, and the live
    // index must still drop cell 7's base rows (anti-join on the
    // TOUCHED cells, not the overlay's observed cells)
    val root = java.nio.file.Files.createTempDirectory("graft_rig").toFile
    root.deleteOnExit()
    val assignDir = s"$root/assign.parquet"
    val overDir = s"$root/overlay.parquet"
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count().toInt
    (0 until n).map(id =>
        (id.toLong, if (id % 89 == 3) 7 else 0)).toDF("vec_id", "cell")
      .write.partitionBy("cell").parquet(assignDir)
    spark.read.parquet(assignDir)
      .filter(col("cell") === 7 && pmod(col("vec_id"), lit(89L)) =!= 3L)
      .write.partitionBy("cell").parquet(overDir) // zero part files
    val out = Vector.retractIndexGates(spark, sf, assignDir, overDir)
      .collect()
    val nRet = (0 until n).count(_ % 89 == 3)
    out.foreach { r =>
      assert(r.getAs[Boolean]("cow_ok"),
        s"fully-retracted cell must reconcile: $r")
      assert(r.getAs[Boolean]("recall_ok"), s"survivor recall: $r")
      assert(r.getAs[Long]("n_after") == n - nRet &&
        r.getAs[Long]("n_retracted") == nRet,
        s"retracted base rows leaked into the live index: $r")
    }
  }

  test("incremental index append: gates green, delta assigned, corpus covered once") {
    val rows = Vector.annIndexAppend(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("recall_ok"), s"recall floor: $r")
      assert(r.getAs[Boolean]("assign_complete"), s"coverage: $r")
    }
    // the persisted assignment really contains the late batch (the
    // append happened) — read it back through the same session root
    val dir = graft.Artifacts.path(spark, "graft_ann_index/incr", sf,
      Seq(s"$sf/embeddings.parquet"))
    val assigned = spark.read.parquet(s"$dir/assign.parquet")
    val nDelta = assigned.filter(pmod(col("vec_id"), lit(101)) === 13).count()
    val nExpect = Tables.embeddings(spark, sf)
      .filter(pmod(col("vec_id"), lit(101)) === 13).count()
    assert(nDelta == nExpect && nDelta > 0,
      s"delta rows in assignment: $nDelta of $nExpect")
  }

  test("emb_lsh_calibration: exact pair accounting, analytic curve pinned") {
    val rows = Vector.embLshCalibration(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = ops.Text.hashSampleFixed(
      Tables.embeddings(spark, sf), "vec_id", 256L).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == n * (n - 1) / 2,
      "every sample pair lands in exactly one bucket")
    rows.foreach { r =>
      val bkt = r.getAs[Long]("bucket")
      assert(bkt >= 0 && bkt <= 9)
      assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("catch_e4") ==
        r.getAs[Long]("n_caught") * 10000 / r.getAs[Long]("n_pairs"))
      // the analytic column replays the geometry math exactly
      val s = bkt / 10.0 + 0.05
      val p = 1.0 - math.acos(s) / math.Pi
      val want = math.floor((1.0 - math.pow(1.0 -
        math.pow(p, Vector.CalBits), Vector.CalBands)) * 10000.0).toLong
      assert(r.getAs[Long]("analytic_e4") == want, s"analytic at $bkt")
      // random embeddings live far below the 0.9 design threshold:
      // the banding must catch almost nothing there (the S-curve's
      // low tail — a high measured rate here means correlated bits)
      if (bkt <= 3)
        assert(r.getAs[Long]("catch_e4") < 2000,
          s"bucket $bkt catch ${r.getAs[Long]("catch_e4")} out of band")
    }
  }

  test("ann_index_reinstate: cleared vectors return at their original cells") {
    val rows = Vector.annIndexReinstate(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("recall_ok"), s"recall floor: $r")
      assert(r.getAs[Boolean]("reinstate_ok"), s"reconciliation: $r")
    }
    val emb = Tables.embeddings(spark, sf)
    val nCleared = emb.filter(pmod(col("vec_id"), lit(89)) === 3 &&
      pmod(col("vec_id"), lit(2)) === 0).count()
    assert(nCleared > 0, "guard: the cleared cohort must be nonempty")
    assert(rows.head.getAs[Long]("n_cleared") == nCleared)
    assert(rows.head.getAs[Long]("n_after") ==
      emb.count() - emb.filter(pmod(col("vec_id"), lit(89)) === 3).count()
        + nCleared)
    // the overlay restores cleared vectors at EXACTLY their base cells
    val base = spark.read.parquet(Vector.retractBaseAssign(spark, sf))
      .filter(pmod(col("vec_id"), lit(89)) === 3 &&
        pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id"), col("cell").cast("int"))
    val over = spark.read.parquet(graft.Artifacts.path(spark,
      "graft_ann_index/reinstate_overlay", sf, Seq(s"$sf/embeddings.parquet")))
      .filter(pmod(col("vec_id"), lit(89)) === 3)
      .select(col("vec_id"), col("cell").cast("int"))
    assert(over.exceptAll(base).count() == 0 &&
      base.exceptAll(over).count() == 0,
      "cleared vectors restored at exactly their base cells, no others")
  }

  test("ann_read_asof: v1 is the manifest's file set, stable in v2, no rescore") {
    val rows = Vector.annReadAsof(spark, sf).collect()
    val emb = Tables.embeddings(spark, sf)
    val nAll = emb.count()
    val nDelta = emb.filter(pmod(col("vec_id"), lit(101)) === 13).count()
    assert(nDelta > 0, "guard: the delta predicate must select rows")
    // v1 = the base build exactly; v2 = the live directory
    val v1 = rows.filter(_.getAs[Int]("version") == 1)
    val v2 = rows.filter(_.getAs[Int]("version") == 2)
    assert(v1.length == nAll - nDelta && v2.length == nAll,
      s"version row counts: ${v1.length} / ${v2.length}")
    assert(!v1.map(_.getAs[Long]("vec_id"))
      .exists(id => id % 101 == 13), "a delta vec leaked into asof(v1)")
    // the stability audit is measured and green
    assert(rows.forall(_.getAs[Boolean]("stable")))
    // time travel reads the manifest's files, never the trainer: the
    // v1 leg of the plan scans exactly the manifest's file count
    val dir = graft.Artifacts.path(spark, "graft_ann_index/incr", sf,
      Seq(s"$sf/embeddings.parquet"))
    val man = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/manifest_v1.txt"))
    assert(!man.isEmpty, "v1 manifest committed by the base build")
    val v1Read = spark.read.parquet(
      scala.jdk.CollectionConverters.ListHasAsScala(man).asScala.toSeq
        .map(n => s"$dir/assign.parquet/$n"): _*)
    assert(v1Read.count() == nAll - nDelta,
      "the manifest-pruned read IS the v1 snapshot")
    // the generalized chain: five versions, retract ⊂ append,
    // reinstate between retract and append, compact read-equal to
    // reinstate as a SET of vec_ids (v5 is the physical artifact)
    val byV = rows.groupBy(_.getAs[Int]("version"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    assert(byV.keySet == Set(1, 2, 3, 4, 5))
    assert(byV(3).subsetOf(byV(2)) && byV(3).subsetOf(byV(4)) &&
      byV(4).subsetOf(byV(2)), "chain containments")
    assert(byV(5) == byV(4), "compaction: physical read == pre-compact view")
  }

  test("emb_decontam_nearest: per-vector argmax equals brute force, bench broadcasts") {
    val rows = Vector.embDecontamNearest(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[Float]](1).toArray)
    val (stratum, corpus) = emb.partition(_._1 % 97 == 0)
    // the FIXED-SIZE hash sample of the held-out stratum (r17: the
    // r16 whole-stratum bench side grew with the corpus — quadratic)
    val thr = math.floor(4294967296.0 *
      math.min(1.0, Vector.EvalSuiteTarget.toDouble / stratum.length)).toLong
    def h8(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString, 16)
    val bench = stratum.filter(p => h8(p._1) < thr)
    assert(bench.nonEmpty && bench.length <= stratum.length &&
      rows.size == corpus.length)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    corpus.take(50).foreach { case (cid, cv) =>
      val want = bench.map { case (bid, bv) =>
        (math.floor(cos(cv, bv) * 10000.0).toLong, bid) }
        .maxBy { case (c, b) => (c, -b) }
      assert(rows(cid) == (want._2, want._1), s"vec $cid nearest drifted")
    }
    // the benchmark side broadcasts; the corpus never shuffles raw
    val plan = Vector.embDecontamNearest(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), s"bench must broadcast:\n" +
        plan.take(800))
  }

  test("stream_ann_autocompact: policy fires, gates equal the plain stream twin") {
    val auto = Vector.streamAnnAutocompact(spark, sf).collect()
    assert(auto.nonEmpty)
    auto.foreach { r =>
      assert(r.getAs[Boolean]("recall_ok") && r.getAs[Boolean]("cow_ok"))
      assert(r.getAs[Long]("compactions_capped") == 1L,
        "the threshold-1 policy must roll at least one generation")
    }
    // auto-compaction is invisible: probe gates + audit equal the
    // plain (never-compacted) stream twin row-for-row
    val plain = Vector.streamAnnRetract(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("hits_capped"),
        r.getAs[Boolean]("recall_ok"), r.getAs[Long]("n_after"),
        r.getAs[Long]("n_retracted"))).toSet
    val got = auto.map(r => (r.getAs[Long]("qid"),
      r.getAs[Long]("hits_capped"), r.getAs[Boolean]("recall_ok"),
      r.getAs[Long]("n_after"), r.getAs[Long]("n_retracted"))).toSet
    assert(got == plain, "post-auto-compact gates must equal the plain twin")
  }

  test("ann_version_log: linear chain, volumes agree with the asof reads") {
    val log = Vector.annVersionLog(spark, sf).collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        r.getString(2), r.getLong(3))).sortBy(_._1)
    assert(log.map(_._1).toSeq == (1 to 5).toSeq)
    assert(log.map(_._2).toSeq ==
      Seq(None, Some(1), Some(2), Some(3), Some(4)))
    assert(log.map(_._3).toSeq ==
      Seq("base", "append", "retract", "reinstate", "compact"))
    val n = log.map(t => t._1 -> t._4).toMap
    assert(n(2) > n(1) && n(3) < n(2) && n(4) > n(3) && n(4) <= n(2) &&
      n(5) == n(4), s"chain volume shape: $n")
    val asofN = Vector.annReadAsof(spark, sf).collect()
      .groupBy(_.getAs[Int]("version")).view.mapValues(_.length.toLong).toMap
    (1 to 5).foreach(v => assert(asofN(v) == n(v), s"v$v log vs asof"))
  }

  test("brute-force top-k ranks by true cosine (spot-check qid 0 rank 1)") {
    val rows = Vector.annBruteTopk(spark, sf)
      .filter(col("qid") === 0).collect()
    assert(rows.length == 10)
    val sims = rows.map(_.getAs[Long]("sim_e4"))
    assert(sims.sameElements(sims.sortBy(-_.toDouble)), "ranks ordered by sim")
  }

  test("filtered top-k: predicate holds for every hit, optimum never beats unfiltered") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val filtered = Vector.annFilteredTopk(spark, sf).collect()
    assert(filtered.length == 30, "10 hits per query vector")
    filtered.foreach { r =>
      assert(Vector.FilteredLabels.contains(emb(r.getAs[Long]("vec_id"))),
        s"hit ${r.getAs[Long]("vec_id")} violates the label predicate")
    }
    // pre-filtering restricts the candidate set: the filtered best can
    // tie but never beat the unfiltered best for the same query
    val bestU = Vector.annBruteTopk(spark, sf).filter(col("rank") === 1)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("sim_e4")).toMap
    filtered.filter(_.getAs[Int]("rank") == 1).foreach { r =>
      assert(r.getAs[Long]("sim_e4") <= bestU(r.getAs[Long]("qid")))
    }
  }

  test("dim stats variance matches a JVM integer-moment computation") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("embedding")).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    val rows = Vector.embDimStats(spark, sf).collect()
    assert(rows.length == 64, "one row per dimension")
    rows.foreach { r =>
      val d = r.getAs[Int]("dim")
      val xs = vecs.map(v => math.floor(v(d).toDouble * 10000.0).toLong)
      val n = xs.length.toLong
      val s = xs.sum; val sq = xs.map(x => x * x).sum
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("mean_e4") == math.floor(1.0 * s / n).toLong)
      assert(r.getAs[Long]("var_e8") == (n * sq - s * s) / (n * n),
        s"dim $d variance")
    }
  }

  test("centroid sums are exact integers matching a JVM computation") {
    val rows = ops.Vector.embCentroids(spark, sf)
      .filter(col("label") === 0 && col("dim") === 0).collect()
    assert(rows.length == 1)
    val want = Tables.embeddings(spark, sf).filter(col("label") === 0)
      .collect().map(r =>
        math.floor(r.getAs[Seq[Float]]("embedding").head.toDouble * 10000.0).toLong)
      .sum
    assert(rows(0).getAs[Long]("sum_e4") == want)
  }

  test("int8 quantization: known vector yields the hand-computed checksum") {
    import spark.implicits._
    val v = Array(1.0f, -0.5f, 0.25f)
    Seq((0L, v.toSeq, 0))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/q8/embeddings.parquet")
    val row = ops.Vector.embQuantizeInt8(spark, s"${TestFixtureRoot.T}/q8").collect()(0)
    // scale = 1.0; codes = [127, -63, 32]; checksum = 127*1 - 63*2 + 32*3
    val codes = v.map(x => math.floor(x / 1.0 * 127.0 + 0.5).toLong)
    val want = codes.zipWithIndex.map { case (c, i) => c * (i + 1) }.sum
    assert(row.getAs[Long]("scale_e4") == 10000L)
    assert(row.getAs[Long]("code_checksum") == want)
  }

  test("embedding-cosine near-dup finds synthetic twins via sign-LSH") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => (i + 1).toFloat)
    val twin = base.clone(); twin(0) = twin(0) + 0.01f
    val far = Array.tabulate(64)(i => if (i % 2 == 0) 5f else -3f)
    Seq((0L, base.toSeq, 0), (1L, twin.toSeq, 0), (2L, far.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .write.mode("overwrite").parquet(s"${TestFixtureRoot.T}/emb/embeddings.parquet")
    val pairs = Vector.dedupEmbeddingCosine(spark, s"${TestFixtureRoot.T}/emb").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
    assert(pairs(0).getAs[Long]("cos_e4") >= 9999L)
  }

  test("IVF-PQ probe recall vs full-scan PQ top-10 is acceptable") {
    // ground truth proxy: the full-scan PQ (no cell pruning) result —
    // probing 3/8 cells should retain most of it
    val full = Vector.annPqTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val ivfpq = Vector.annIvfPqTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val recall = (full & ivfpq).size.toDouble / full.size
    assert(recall >= 0.5, s"IVF-PQ recall@10 vs full PQ too low: $recall")
  }

  test("kmeans IVF probe has reasonable recall vs brute force") {
    val brute = Vector.annBruteTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Vector.annIvfKmeans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"kmeans-IVF recall@10 too low: $recall")
  }

  test("PQ ADC + exact re-rank has high recall vs exact L2 top-10") {
    val pq = Vector.annPqTopk(spark, sf).collect()
    assert(pq.length == Vector.QueryIds.size * 10)
    val gate = Vector.annPqRecallGate(spark, sf).collect()
    assert(gate.length == Vector.QueryIds.size)
    gate.foreach(r => assert(r.getAs[Boolean]("recall_ok"),
      s"PQ recall below gate for qid ${r.getLong(0)}"))
  }

  test("PQ codebooks are deterministic and codes cover all subspaces") {
    val b1 = Vector.pqTrainUncached(spark, sf, iters = 2)
    val b2 = Vector.pqTrainUncached(spark, sf, iters = 2)
    for (m <- 0 until Vector.PqM; k <- 0 until Vector.PqK)
      assert(b1(m)(k).sameElements(b2(m)(k)), s"codebook ($m,$k) differs")
    val codes = Vector.pqCodes(spark, sf, b1).collect()
    codes.foreach { r =>
      val cs = r.getAs[scala.collection.Seq[Int]]("codes")
      assert(cs.length == Vector.PqM && cs.forall(c => c >= 0 && c < Vector.PqK))
    }
  }

  test("IVF probe returns only same-cell neighbors") {
    val emb = Tables.embeddings(spark, sf)
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    Vector.annIvfTopk(spark, sf).collect().foreach { r =>
      assert(labelOf(r.getAs[Long]("vec_id")) == labelOf(r.getAs[Long]("qid")))
    }
  }

  test("dedup_semantic flags equal a brute-force within-cell sweep") {
    // Replays the keep policy exactly: dropped(v) iff some lower-id
    // vector in v's cell has cosine >= 0.9. Cells come from the same
    // memoized centroids the operator used, so the comparison isolates
    // the pair-sweep logic.
    val flags = Vector.dedupSemanticFlags(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        (r.getAs[Int]("cell"), r.getAs[Boolean]("dropped"))))
      .toMap
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Float]]("embedding").toArray)
      .sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; na += x * x; nb += y * y; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    var nDropped = 0
    vecs.foreach { case (v, ev) =>
      val expect = vecs.exists { case (u, eu) =>
        u < v && flags(u)._1 == flags(v)._1 && cos(eu, ev) >= 0.9
      }
      assert(flags(v)._2 == expect, s"vec $v: dropped=${flags(v)._2}, brute=$expect")
      if (expect) nDropped += 1
    }
    // The driver corpora genuinely contain ZERO cos >= 0.9 pairs at
    // small SF (r6 verdict: dedup_embedding_cosine returns 0 rows), so
    // drops here are legal but not required — the must-drop assertion
    // lives in the fixture test below, whose corpus guarantees dups.
    val gate = Vector.dedupSemantic(spark, sf).collect().head
    info(s"n_vecs=${gate.getAs[Long]("n_vecs")} dropped=$nDropped " +
      s"n_sample_pairs=${gate.getAs[Long]("n_sample_pairs")} " +
      s"drops_ok=${gate.getAs[Boolean]("drops_ok")} " +
      s"coverage_ok=${gate.getAs[Boolean]("coverage_ok")}")
    assert(gate.getAs[Boolean]("drops_ok") && gate.getAs[Boolean]("coverage_ok"))
  }

  test("dedup_semantic drops the planted duplicates on a corpus that has them") {
    // 32 mutually-orthogonal base vectors (one-hot) + 32 exact copies:
    // every pair (i, i+32) has cos = 1.0 and — being identical — is
    // GUARANTEED to land in the same k-means cell under any trained
    // centroids, so the within-cell sweep must drop exactly ids 32..63.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_semfix").toString
    val rows = (0 until 64).map { i =>
      val base = i % 32
      val v = Array.tabulate(Vector.Dim)(d => if (d == base) 1.0f else 0.0f)
      (i.toLong, v.toSeq, base % 4)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val flags = Vector.dedupSemanticFlags(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("dropped")).toMap
    (0 until 64).foreach { i =>
      assert(flags(i.toLong) == (i >= 32),
        s"vec $i: expected dropped=${i >= 32}, got ${flags(i.toLong)}")
    }
    val gate = Vector.dedupSemantic(spark, dir).collect().head
    assert(gate.getAs[Long]("n_vecs") == 64L)
    assert(gate.getAs[Long]("n_sample_pairs") == 32L,
      "sample covers the whole 64-vec corpus; only the 32 planted pairs reach cos >= 0.9")
    assert(gate.getAs[Boolean]("drops_ok"), "planted dups => the pass must drop some")
    assert(gate.getAs[Boolean]("coverage_ok"), "identical vectors share a cell => full coverage")
  }
}

class MultimodalSpec extends SparkSuite {
  import graft.ops.MultimodalFixtures

  test("mm_video_dedup: renditions group with originals, hash-noise assets are singletons") {
    val rows = ops.Multimodal.mmVideoDedup(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(3), r.getLong(4)))
    val byFile = rows.map(r => r._1 -> r).toMap
    // every +10 rendition groups with exactly its canonical original
    MultimodalFixtures.videoIngestSpecs.foreach { case (name, kind, id) =>
      val (keeper, nSame) = (byFile(name)._2, byFile(name)._3)
      if (kind == "nv") {
        assert(keeper == name && nSame == 1, s"$name must be a singleton")
      } else {
        // the i-prefixed rendition sorts first, so it IS the keeper —
        // and its canonical original must share the group
        val canon = (if (kind == "vd") f"vid$id%02d.gif"
          else f"scn$id%02d.gif")
        assert(keeper == name && nSame == 2, s"$name: $keeper/$nSame")
        assert(byFile(canon)._2 == name && byFile(canon)._3 == 2,
          s"$canon must group under its rendition $name")
      }
    }
    // canonical assets without a planted rendition stay singletons
    val planted = Set("vid01.gif", "vid03.gif", "vid05.gif",
      f"scn${MultimodalFixtures.SceneIngestId}%02d.gif")
    rows.filter(r => r._1.matches("^(vid|scn)[0-9]+\\.gif$")).foreach { r =>
      val want = if (planted(r._1)) 2L else 1L
      assert(r._3 == want, s"${r._1}: n_same ${r._3}, want $want")
    }
  }

  test("decoded metadata recovers the GENERATOR's dimensions and frame counts") {
    // ground truth from the generator's arithmetic — fully independent
    // of the ImageIO decode under test
    val got = Multimodal.mmMetadata(spark, sf).collect()
      .map(r => r.getAs[String]("file") ->
        ((r.getAs[String]("format"), r.getAs[Int]("width"),
          r.getAs[Int]("height"), r.getAs[Int]("n_frames")))).toMap
    MultimodalFixtures.pngSpecs.foreach { case (name, id, _) =>
      assert(got(name) == (("png", MultimodalFixtures.widthOf(id),
        MultimodalFixtures.heightOf(id), 1)), s"png $name")
    }
    MultimodalFixtures.gifSpecs.foreach { case (name, id) =>
      assert(got(name) == (("gif", MultimodalFixtures.GifW,
        MultimodalFixtures.GifH, MultimodalFixtures.framesOf(id))),
        s"gif $name must decode ${MultimodalFixtures.framesOf(id)} frames")
    }
    // JPEG: lossy in pixels, exact in the decode-tolerant invariants
    MultimodalFixtures.jpegSpecs.foreach { case (name, id) =>
      assert(got(name) == (("jpeg", MultimodalFixtures.widthOf(id),
        MultimodalFixtures.heightOf(id), 1)), s"jpeg $name")
    }
  }

  test("audio contour dedup: gain-scaled twins collide, originals don't") {
    val rows = Multimodal.mmAudioContourDedup(spark, sf).collect()
      .map(r => r.getAs[String]("file") ->
        ((r.getAs[Long]("group_size"), r.getAs[String]("dup_peer"),
          r.getAs[Boolean]("is_dup")))).toMap
    assert(rows.size == MultimodalFixtures.audioContourSpecs.size)
    val twinned = Set(1, 4, 7)
    MultimodalFixtures.audioContourSpecs.foreach { case (name, id, _) =>
      val (gs, peer, dup) = rows(name)
      if (twinned(id)) {
        assert(gs == 2L && dup, s"$name must pair with its gain twin")
        assert(peer == f"caud$id%02d.wav", s"$name groups to the original")
      } else assert(gs == 1L && !dup, s"$name has no twin")
    }
    // and the twin really is byte-distinct: exact digests differ
    val dir = MultimodalFixtures.ensureAudioContour()
    def sha(n: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, n))).toSeq
    assert(sha("caud01.wav") != sha("caud01t.wav"),
      "twin must defeat exact dedup to make the contour meaningful")
  }

  test("phash dedup recovers the generator's duplicate structure") {
    val rows = Multimodal.mmPhashDedup(spark, sf).collect()
    val expected = (MultimodalFixtures.PairIds.map(i =>
      f"img$i%02da.png" -> f"img$i%02da.png,img$i%02db.png") ++
      MultimodalFixtures.NearIds.map(i =>
        f"img$i%02da.png" -> f"img$i%02da.png,img$i%02dn.png") ++
      MultimodalFixtures.JpegPairIds.map(i =>
        f"jpg$i%02da.jpg" -> f"jpg$i%02da.jpg,jpg$i%02db.jpg")).toMap
    assert(rows.length == expected.size, "exactly the generated groups")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_copies") == 2L)
      assert(expected(r.getAs[String]("keeper")) == r.getAs[String]("members"))
    }
  }

  test("jpeg quality twins: distinct bytes, banded near-dup at hamming 1..3") {
    val sha = Multimodal.mmMetadata(spark, sf).collect()
      .map(r => r.getAs[String]("file") -> r.getAs[String]("sha256")).toMap
    // byte-identical pairs really are byte-identical
    MultimodalFixtures.JpegPairIds.foreach { i =>
      assert(sha(f"jpg$i%02da.jpg") == sha(f"jpg$i%02db.jpg"))
    }
    // quality twins: different bytes (exact dedup misses them)...
    MultimodalFixtures.JpegNearIds.foreach { i =>
      assert(sha(f"jpg$i%02da.jpg") != sha(f"jpg$i%02dq.jpg"))
    }
    // ...but the banded phash near-join recovers every one at the
    // fixture-enforced hamming 1..3 (the lossy-format dedup contract)
    val near = Multimodal.mmPhashNear(spark, sf).collect()
      .map(r => (r.getAs[String]("fa"), r.getAs[String]("fb")) ->
        r.getAs[Int]("hamming")).toMap
    MultimodalFixtures.JpegNearIds.foreach { i =>
      val d = near.get((f"jpg$i%02da.jpg", f"jpg$i%02dq.jpg"))
      assert(d.exists(h => h >= 1 && h <= 3),
        s"jpeg twin $i must band-join at hamming 1..3, got $d")
    }
  }

  test("cross-modal pair dedup: both modalities must agree") {
    val got = Multimodal.mmPairDedup(spark, sf).collect()
      .map(r => (r.getAs[String]("fa"), r.getAs[String]("fb"),
        r.getAs[Int]("hamming")))
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    // captions shared AND pixels identical → hamming 0 pair-dups
    (MultimodalFixtures.CaptionDupPair.map(i =>
        (f"img$i%02da.png", f"img$i%02db.png")) ++
      MultimodalFixtures.CaptionDupNear.map(i =>
        (f"img$i%02da.png", f"img$i%02dn.png"))).foreach { p =>
      assert(gotPairs.contains(p), s"expected pair-dup $p")
      assert(got.find(g => (g._1, g._2) == p).get._3 == 0)
    }
    // captions shared AND phash within banded hamming 1..3 (v-variants)
    MultimodalFixtures.CaptionDupVar.foreach { i =>
      val p = (f"img$i%02da.png", f"img$i%02dv.png")
      assert(gotPairs.contains(p), s"expected near pair-dup $p")
      val d = got.find(g => (g._1, g._2) == p).get._3
      assert(d >= 1 && d <= 3, s"v-variant hamming $d")
    }
    // identical pixels with DIFFERENT captions are not pair-dups
    Seq((3, "b"), (4, "b"), (5, "b"), (8, "n"), (11, "v")).foreach { case (i, s) =>
      val p = (f"img$i%02da.png", f"img$i%02d$s%s.png")
      assert(!gotPairs.contains(p), s"caption differs: $p must NOT pair-dup")
    }
    // and nothing else sneaks in: 7 pair-dups exactly
    assert(got.length == 7, s"exactly the planted pairs: ${got.toSeq}")
  }

  test("brightness near-dups: different sha256, identical phash") {
    val metas = Multimodal.mmMetadata(spark, sf).collect()
      .map(r => r.getAs[String]("file") -> r.getAs[String]("sha256")).toMap
    val dec = Multimodal.mmPhashDedup(spark, sf).collect()
      .map(_.getAs[String]("members"))
    MultimodalFixtures.NearIds.foreach { i =>
      val (a, n) = (f"img$i%02da.png", f"img$i%02dn.png")
      assert(metas(a) != metas(n), "near-dup bytes differ")
      assert(dec.contains(s"$a,$n"), "but the perceptual hash groups them")
    }
  }

  test("per-partition decode equals per-item decode (reader reuse is sound)") {
    val files = MultimodalFixtures.pngSpecs.take(6).map(_._1) ++
      MultimodalFixtures.gifSpecs.map(_._1)
    val bins = files.map { n =>
      ImgBin(n, java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(MultimodalFixtures.ensure(), n)))
    }
    val batch = Multimodal.decodePartition(bins.iterator).toSeq
    val single = bins.map(b => Multimodal.decodePartition(Iterator(b)).next())
    assert(batch == single)
  }

  test("banded phash near-dup finds perturbed renditions at NONZERO distance") {
    val pairs = Multimodal.mmPhashNear(spark, sf).collect()
      .map(r => (r.getAs[String]("fa"), r.getAs[String]("fb"),
        r.getAs[Int]("hamming")))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    // exact duplicates and brightness shifts sit at distance 0
    MultimodalFixtures.PairIds.foreach { i =>
      assert(byPair((f"img$i%02da.png", f"img$i%02db.png")) == 0)
    }
    MultimodalFixtures.NearIds.foreach { i =>
      assert(byPair((f"img$i%02da.png", f"img$i%02dn.png")) == 0)
    }
    // corner-perturbed variants: CLOSE but not equal — the case exact
    // phash grouping misses and banding must still recover
    MultimodalFixtures.VariantIds.foreach { i =>
      val d = byPair.get((f"img$i%02da.png", f"img$i%02dv.png"))
      assert(d.exists(h => h >= 1 && h <= 3),
        s"variant $i must land at hamming 1..3, got $d (pairs: ${pairs.toSeq})")
    }
  }

  test("executed thumbnails match the plan dims and a direct JVM resize") {
    val plans = Multimodal.mmResizePlan(spark, sf).collect()
      .map(r => r.getAs[String]("file") ->
        (r.getAs[Long]("out_w"), r.getAs[Long]("out_h"))).toMap
    val rows = Multimodal.mmThumbnail(spark, sf).collect()
    assert(rows.length == plans.size, "one thumbnail per asset")
    rows.foreach { r =>
      val f = r.getAs[String]("file")
      // executed dims equal the planning operator's dims exactly
      assert((r.getAs[Int]("out_w").toLong, r.getAs[Int]("out_h").toLong)
        == plans(f), s"$f dims")
      // hash of REAL resized pixels: recompute directly in the test JVM
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(MultimodalFixtures.Dir, f))
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val (ow, oh) = Multimodal.fitDims(img.getWidth, img.getHeight)
      val want =
        f"${Multimodal.aHash(Multimodal.resizeNearest(img, ow, oh))}%016x"
      assert(r.getAs[String]("thumb_phash") == want, s"$f thumb hash")
    }
  }

  test("scene cuts land exactly at scene boundaries, drift stays below") {
    val rows = Multimodal.mmSceneCuts(spark, sf).collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Int]("frame_idx")) ->
        (r.getAs[Long]("mad_e4"), r.getAs[Boolean]("is_cut"))).toMap
    MultimodalFixtures.sceneSpecs.foreach { case (name, _) =>
      (1 until MultimodalFixtures.SceneFrames).foreach { f =>
        val (mad, cut) = rows((name, f))
        if (f % 3 == 0) {
          assert(cut, s"$name frame $f is a scene boundary")
          assert(mad > Multimodal.CutThresholdE4)
        } else {
          assert(!cut, s"$name frame $f is within-scene drift")
          assert(mad == 10000L, s"$name frame $f: drift is exactly 1 gray")
        }
      }
    }
    // hash-noise vid* assets: every transition is a hard cut
    MultimodalFixtures.gifSpecs.foreach { case (name, id) =>
      (1 until MultimodalFixtures.framesOf(id)).foreach { f =>
        assert(rows((name, f))._2, s"$name frame $f")
      }
    }
  }

  test("WAV parse recovers the generator's audio facts exactly") {
    val rows = Multimodal.mmAudioStats(spark, sf).collect()
      .map(r => r.getAs[String]("file") -> r).toMap
    assert(rows.size == MultimodalFixtures.audioSpecs.size)
    MultimodalFixtures.audioSpecs.foreach { case (name, id) =>
      val r = rows(name)
      assert(r.getAs[Int]("sample_rate") == MultimodalFixtures.rateOf(id))
      assert(r.getAs[Int]("channels") == MultimodalFixtures.channelsOf(id))
      assert(r.getAs[Long]("n_frames") == MultimodalFixtures.audioFramesOf(id))
      // clip ground truth: raw amplitude exceeds the rail iff id >= 4
      assert(r.getAs[Boolean]("clipped") == (id >= 4), s"$name clip flag")
      assert(r.getAs[Int]("peak") <= 10000)
      assert(r.getAs[Long]("rms") > 0 &&
        r.getAs[Long]("rms") <= r.getAs[Int]("peak"))
    }
    // both mono and stereo files exercised
    assert(rows.values.map(_.getAs[Int]("channels")).toSet == Set(1, 2))
  }

  test("audio windows tile each file exactly and reconcile with global stats") {
    val stats = Multimodal.mmAudioStats(spark, sf).collect()
      .map(r => r.getAs[String]("file") -> r).toMap
    val wins = Multimodal.mmAudioWindows(spark, sf).collect()
      .groupBy(_.getAs[String]("file"))
    assert(wins.keySet == stats.keySet)
    wins.foreach { case (f, ws) =>
      val g = stats(f)
      // windows partition the frames exactly, indices contiguous
      assert(ws.map(_.getAs[Int]("win_idx")).sorted.toSeq ==
        (0 until ws.length))
      assert(ws.map(_.getAs[Long]("n_frames")).sum == g.getAs[Long]("n_frames"))
      // global peak/clip counts are the window-wise max/sum
      assert(ws.map(_.getAs[Int]("peak")).max == g.getAs[Int]("peak"))
      assert(ws.map(_.getAs[Long]("n_clipped")).sum == g.getAs[Long]("n_clipped"))
      // every full window holds exactly rate/10 frames
      ws.filter(_.getAs[Int]("win_idx") < ws.length - 1).foreach { w =>
        val id = MultimodalFixtures.audioSpecs.find(_._1 == f).get._2
        assert(w.getAs[Long]("n_frames") == MultimodalFixtures.rateOf(id) / 10)
      }
    }
  }

  test("frame sample emits evenly spaced frames per animated asset") {
    val df = Multimodal.mmFrameSample(spark, sf)
    val counts = df.groupBy("file").count()
    assert(counts.filter(col("count") > 7).isEmpty)
    assert(df.filter(col("frame_idx") >= col("n_frames")).isEmpty)
    assert(df.filter(col("n_frames") <= 1).isEmpty, "stills are excluded")
  }

  test("resize plan fits the 224 box and keeps dims positive") {
    val df = Multimodal.mmResizePlan(spark, sf)
    assert(df.filter(col("out_w") > 224 || col("out_h") > 224 ||
      col("out_w") < 1 || col("out_h") < 1).isEmpty)
    // the binding dimension lands on 224 (floor may shave one pixel)
    assert(df.filter(greatest(col("out_w"), col("out_h")) < 223).isEmpty)
  }

  test("feature extract surfaces real container magic numbers") {
    val rows = Multimodal.mmFeatureExtract(spark, sf).collect()
      .map(r => r.getAs[String]("file") -> r.getAs[String]("head_hex")).toMap
    assert(rows("img00a.png").startsWith("89504e47"), "PNG magic")
    assert(rows("vid00.gif").startsWith("47494638"), "GIF8 magic")
  }
}

class SinksSpec extends SparkSuite {
  test("HttpSink delivers one payload per row from executors") {
    val acc = spark.sparkContext.collectionAccumulator[String]("sent")
    HttpSink.send(Sinks.k2PatchPayload(spark, sf), "body")(p => acc.add(p))
    assert(acc.value.size() == 3)
    assert(acc.value.get(0).contains("\"comment\":\"DDNS update\""))
  }

  test("RetentionSink honors the dry-run guard") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ret").toFile
    val files = (1 to 3).map { i =>
      val f = new java.io.File(dir, s"old_$i.log")
      java.nio.file.Files.writeString(f.toPath, "x")
      f.getAbsolutePath
    }
    val df = files.toDF("path")
    assert(RetentionSink.delete(df, "path", dryRun = true) == 3)
    assert(files.forall(new java.io.File(_).exists()))
    assert(RetentionSink.delete(df, "path", dryRun = false) == 3)
    assert(files.forall(!new java.io.File(_).exists()))
  }

  test("k4 retention run: dry-run leaves all, exec deletes exactly eligible; idempotent") {
    def run() = ops.Sinks.k4RetentionRun(spark, sf).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3)))
    val r1 = run()
    assert(r1.nonEmpty)
    assert(r1.exists(_._2) && r1.exists(!_._2),
      "fixture scope must carry both eligible and surviving files")
    r1.foreach { case (f, eligible, survivedDry, existsAfter) =>
      assert(survivedDry, s"$f deleted under dry-run")
      assert(existsAfter == !eligible, s"$f: executed vacuum must equal plan")
    }
    // re-running restages and re-executes to the same verdict
    assert(run().sameElements(r1), "second invocation must be identical")
  }
}

class FlowSpec extends SparkSuite {
  test("d4 backfill execution equals the plan, and re-running is idempotent") {
    // plan = execution: the materialized table the runner produces must
    // be row-identical to the planner's enumeration; a second run
    // (re-triggering the checkpointed stream with no new files) must
    // not double-count.
    val plan = Flow.d4BackfillPlan(spark, sf).collect().toSeq
    val run1 = Flow.d4BackfillRun(spark, sf).collect().toSeq
    assert(run1 == plan, "executed backfill must equal the planned intervals")
    val run2 = Flow.d4BackfillRun(spark, sf).collect().toSeq
    assert(run2 == plan, "replayed backfill must be idempotent")
    assert(plan.nonEmpty)
  }

  test("sharedScanOf serves the cache on a stable key, rebuilds and evicts on rotation") {
    import spark.implicits._
    val path = s"${TestFixtureRoot.T}/rot/t.parquet"
    def stage(v: Int): Unit =
      Seq(v).toDF("v").coalesce(1).write.mode("overwrite").parquet(path)
    // the generation literal keeps the two frames' plans apart: the
    // cache matches by plan, and both read the same path
    def read(gen: Int) = spark.read.parquet(path).withColumn("gen", lit(gen))
    stage(1)
    val v1 = Flow.sharedScanOf(spark, "t_rot", Seq(path))(read(1))
    assert(v1.storageLevel.useMemory)
    // stable file content: the maker is NOT re-invoked (cached copy served)
    val again = Flow.sharedScanOf(spark, "t_rot", Seq(path))(Seq(2).toDF("v"))
    assert(again.collect().map(_.getInt(0)).toSeq == Seq(1))
    // the file rewritten in place rotates its fingerprint: rebuilt
    // fresh, and the superseded persisted copy is released
    stage(3)
    val v2 = Flow.sharedScanOf(spark, "t_rot", Seq(path))(read(2))
    assert(v2.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((3, 2)))
    assert(v1.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "superseded entry must be unpersisted")
  }

  test("decontamination rebuilds its shared shingles after in-place regeneration") {
    val dir = s"${TestFixtureRoot.T}/regen"
    def stage(n: Int): Unit =
      spark.range(n).selectExpr("id AS doc_id",
        "concat('alpha beta gamma delta epsilon doc ', id) AS text",
        "'src' AS source")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    stage(10)
    assert(ops.Text.decontamBloom(spark, dir).count() ==
      10 - 1) // doc_id 0 is the benchmark slice (0 % 97 == 0)
    stage(20) // regenerate IN PLACE with more docs
    assert(ops.Text.decontamBloom(spark, dir).count() == 20 - 1,
      "shared shingle stage must rotate with the dataset content")
  }

  test("fan-out isolates the poison item to an error row") {
    val rows = Flow.d1FanoutIsolation(spark, sf).collect()
    assert(rows.length == 4)
    val bad = rows.find(_.getString(0) == "bad-host").get
    assert(bad.getString(1) == "error")
    assert(rows.count(_.getString(1) == "ok") == 3)
  }

  test("observe() metrics ride along the query without a second scan") {
    val ev = Tables.events(spark, sf)
    val (observed, fetch) = Flow.withObservedMetrics(ev, "load_metrics")
    val n = observed.count() // one action; metrics collected inline
    val m = fetch()
    assert(m.getAs[Long]("n_rows") == n)
    assert(m.getAs[Long]("n_null_type") == 0L)
    assert(m.getAs[java.sql.Timestamp]("max_ts") != null)
  }

  test("withRetry retries then succeeds; exhausts then throws") {
    var n = 0
    val got = Flow.withRetry(2) { n += 1; if (n < 3) sys.error("flaky"); 42 }
    assert(got == 42 && n == 3)
    intercept[RuntimeException](Flow.withRetry(1)(sys.error("always")))
  }

  test("withTimeout bounds a slow action") {
    intercept[java.util.concurrent.TimeoutException](
      Flow.withTimeout(100) { Thread.sleep(5000); 1 })
    assert(Flow.withTimeout(5000)(7) == 7)
  }

  test("withQueryTimeout cancels the in-flight Spark jobs") {
    import spark.implicits._
    val slow = spark.range(0, 500000000L).map { i =>
      if (i % 100000 == 0) Thread.sleep(1); i
    }
    intercept[java.util.concurrent.TimeoutException](
      Flow.withQueryTimeout(spark, 500)(slow.count()))
    // engine still usable after cancellation
    assert(spark.range(10).count() == 10)
  }

  test("operators tolerate empty input tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.streaming.EventsStream.rawSchema)
      .write.parquet(s"$dir/events.parquet")
    // freshness over an empty log: no rows, no crash
    assert(Validate.v1Freshness(spark, dir)
      .count() == 0)
    // empty-log resilience for the newer event operators
    assert(ops.Relational.scd2Intervals(spark, dir).count() == 0)
    assert(ops.Relational.cdcMerge(spark, dir).count() == 0)
    assert(ops.Relational.resampleFfill(spark, dir).count() == 0)
    assert(ops.Relational.winsorizeValues(spark, dir).count() == 0)
    assert(Validate.v12PsiDrift(spark, dir).count() == 0)
    // empty corpus for the text/dedup side
    val docs = java.nio.file.Files.createTempDirectory("graft_empty_docs").toString
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new StructType().add("doc_id", LongType).add("text", StringType)
        .add("lang", StringType).add("source", StringType))
      .write.parquet(s"$docs/documents.parquet")
    assert(ops.Text.repetition(spark, docs).count() == 0)
    assert(ops.Text.decontam(spark, docs).count() == 0)
    assert(ops.Text.unigramLogprob(spark, docs).count() == 0)
    assert(ops.Text.sampleTemperature(spark, docs).count() == 0)
    assert(ops.Dedup.keepBest(spark, docs).count() == 0)
  }

  test("sessionize splits on >30min gaps") {
    val sess = Flow.sessionize(spark, sf)
    // session bounds are consistent: start <= end, n_events >= 1
    assert(sess.filter(col("session_start") > col("session_end")).isEmpty)
    assert(sess.filter(col("n_events") < 1).isEmpty)
  }
}

/** Round-5 operators: interpolation exactness, z-order locality,
  * split determinism, URL canonical collapse, sketch rollup gates,
  * stream-static equivalence. */
class Round5OpsSpec extends SparkSuite {
  import org.apache.spark.sql.functions._

  test("sessionTmpDir registers its root for shutdown cleanup, exactly once") {
    val a = graft.Util.sessionTmpDir(spark, "graft_cleanup_probe")
    val b = graft.Util.sessionTmpDir(spark, "graft_cleanup_probe")
    assert(a == b, "same (prefix, session) must resolve to one root")
    assert(a.contains(spark.sparkContext.applicationId),
      "root must be per-application so concurrent sessions never share")
    assert(graft.Util.cleanupRoots.contains(a),
      "root must be registered for the shutdown-hook wipe")
    // the wipe itself: deleteRecursively clears a populated tree
    val f = new java.io.File(s"$a/probe/nested")
    f.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$a/probe/nested/x.txt"), "x")
    graft.Util.deleteRecursively(new java.io.File(a))
    assert(!new java.io.File(a).exists(), "wipe must remove the whole root")
  }

  test("resample_interp: observed hours pass through; gaps blend linearly") {
    val out = ops.Relational.resampleInterp(spark, sf).collect()
    assert(out.nonEmpty)
    // observed rows: interp == obs, always
    out.filter(r => !r.isNullAt(r.fieldIndex("obs_cents"))).foreach { r =>
      assert(r.getAs[Long]("interp_cents") == r.getAs[Long]("obs_cents"))
    }
    // interpolated rows sit within [min(prev,next), max(prev,next)] of
    // their neighbors: monotone blend, never extrapolation
    val byType = out.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[String]("hr"))
      val obsIdx = sorted.zipWithIndex
        .filter { case (r, _) => !r.isNullAt(r.fieldIndex("obs_cents")) }
        .map(_._2)
      sorted.zipWithIndex.foreach { case (r, i) =>
        if (r.isNullAt(r.fieldIndex("obs_cents")) &&
            !r.isNullAt(r.fieldIndex("interp_cents"))) {
          val prev = obsIdx.filter(_ < i).lastOption
          val next = obsIdx.find(_ > i)
          (prev, next) match {
            case (Some(p), Some(n)) =>
              val pv = sorted(p).getAs[Long]("obs_cents")
              val nv = sorted(n).getAs[Long]("obs_cents")
              val v = r.getAs[Long]("interp_cents")
              assert(v >= math.min(pv, nv) - 1 && v <= math.max(pv, nv),
                s"interp $v outside [$pv, $nv]")
            case _ => fail("interp_cents present without both neighbors")
          }
        }
      }
    }
  }

  test("layout_zorder: every bucket bounds both dimensions to 1/8 range") {
    val m = ops.Relational.layoutZorder(spark, sf).collect()
    assert(m.nonEmpty)
    // top 6 z bits fix the top 3 bits of x AND y: per-bucket spread of
    // each dim is < 1024/8 — the two-dimensional pruning a single-column
    // sort cannot give
    m.foreach { r =>
      assert(r.getAs[Long]("max_x") - r.getAs[Long]("min_x") <= 127)
      assert(r.getAs[Long]("max_y") - r.getAs[Long]("min_y") <= 127)
    }
  }

  test("t_split_assign: splits partition the corpus near 80/10/10") {
    val rows = ops.Text.splitAssign(spark, sf).collect()
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val total = bySplit.values.sum
    assert(total == Tables.documents(spark, sf).count())
    val train = bySplit.getOrElse("train", 0L).toDouble / total
    val valF = bySplit.getOrElse("val", 0L).toDouble / total
    assert(math.abs(train - 204.0 / 256) < 0.05, s"train share $train")
    assert(math.abs(valF - 26.0 / 256) < 0.04, s"val share $valF")
    // determinism: a second run assigns identically
    val again = ops.Text.splitAssign(spark, sf).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("URL canonicalizer is idempotent over every generated raw URL") {
    // the defining property of a canonical form: canon(canon(u)) ==
    // canon(u) — applied as one whole-corpus query, not per-row loops
    val diff = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"))
      .withColumn("c1", expr(ops.Dedup.canonUrlExpr(ops.Dedup.rawUrlExpr)))
      .withColumn("c2", expr(ops.Dedup.canonUrlExpr(
        ops.Dedup.canonUrlExpr(ops.Dedup.rawUrlExpr))))
      .filter(col("c1") =!= col("c2"))
    assert(diff.isEmpty, s"non-idempotent: ${diff.take(3).mkString}")
  }

  test("URL canonicalizer: ':443' strips from the authority only, never the path") {
    import spark.implicits._
    val cases = Seq(
      // default port on the authority: stripped
      ("https://Host.Example.com:443/docs/1", "https://host.example.com/docs/1"),
      // literal ':443/' inside the PATH: preserved (the r6 positional
      // replace would have mangled this to /ports/1)
      ("https://host.example.com/ports/:443/1", "https://host.example.com/ports/:443/1"),
      // both at once: authority stripped, path untouched
      ("https://a.example.com:443/x/:443/y", "https://a.example.com/x/:443/y"),
      // non-default port: preserved
      ("https://host.example.com:8443/docs/1", "https://host.example.com:8443/docs/1"))
    val got = cases.map(_._1).toDF("u")
      .withColumn("c", expr(ops.Dedup.canonUrlExpr("u")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"canon($in) = ${got(in)}, want $want")
    }
  }

  test("dedup_url: canonical keys carry no case/port/utm/fragment residue") {
    val urls = ops.Dedup.urlDedup(spark, sf).collect()
      .map(_.getAs[String]("url"))
    urls.foreach { u =>
      assert(!u.contains("#") && !u.contains(":443") && !u.contains("utm_"),
        s"residue in $u")
      assert(u == u.toLowerCase, s"case residue in $u")
      assert(!u.endsWith("/") && !u.contains("/?"), s"slash residue in $u")
    }
  }

  test("sketch_union_rollup: every scope passes the 5% gate; ALL >= max day") {
    val rows = ops.Relational.sketchUnionRollup(spark, sf).collect()
    assert(rows.forall(_.getAs[Boolean]("within_5pct")))
    val all = rows.filter(_.getAs[String]("scope") == "ALL")
      .map(_.getAs[Long]("exact_users")).head
    val maxDay = rows.filter(_.getAs[String]("scope") != "ALL")
      .map(_.getAs[Long]("exact_users")).max
    assert(all >= maxDay, "union must cover the largest day")
  }

  test("q8_market_share: shares stay in [0, 10000] e4 and dims broadcast") {
    val rows = ops.Relational.q8MarketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Long]("share_e4")
      assert(s >= 0 && s <= 10000, s"share $s out of range")
      assert(r.getAs[Long]("nat_cents") <= r.getAs[Long]("tot_cents"))
    }
    // the 8-relation tree must resolve its dims as broadcast joins —
    // no hint in the code, Catalyst's size estimates decide
    graft.Util.withConf(spark, "spark.sql.adaptive.enabled", "false") {
      val plan = ops.Relational.q8MarketShare(spark, sf)
        .queryExecution.executedPlan
      val bhj = plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhj.size >= 5, s"dims should broadcast (got ${bhj.size} BHJ)")
    }
  }

  test("q18_big_orders: every survivor clears the HAVING threshold") {
    val rows = ops.Relational.q18BigOrders(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach(r => assert(r.getAs[Long]("sum_qty") > 150))
    // descending by price with orderkey tiebreak = deterministic page
    val prices = rows.map(_.getAs[Long]("price_cents"))
    assert(prices.sameElements(prices.sorted.reverse))
  }

  test("q21_waiting: decorrelated plan equals the literal EXISTS/NOT EXISTS") {
    // brute-force the correlated form over collected rows: for each
    // late line of an F order, check the two existentials directly
    val lines = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          > 60).as("late"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byOrder = lines.groupBy(_._1)
    val sup = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf).filter(col("n_name") === "NATION_3"),
        col("s_nationkey") === col("n_nationkey"))
      .collect().map(r => r.getAs[Long]("s_suppkey") ->
        r.getAs[String]("s_name")).toMap
    val want = lines.filter { case (o, s, late) =>
      late &&
        byOrder(o).exists(l2 => l2._2 != s) &&                 // EXISTS
        !byOrder(o).exists(l3 => l3._2 != s && l3._3)          // NOT EXISTS
    }.flatMap { case (_, s, _) => sup.get(s) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = ops.Relational.q21Waiting(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("numwait")).toMap
    assert(got == want, s"got $got want $want")
  }

  test("q20_surplus: every survivor dominates some hot part in the window") {
    val rows = ops.Relational.q20Surplus(spark, sf).collect()
    assert(rows.nonEmpty)
    // recompute the correlated threshold literally
    val g = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.part(spark, sf).filter(col("p_name").startsWith("hot")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val partTot = g.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val dominant = g.filter { case (p, _, q) => q * 3 > partTot(p) }
      .map(_._2).toSet
    val region1 = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf).filter(col("n_regionkey") === 1),
        col("s_nationkey") === col("n_nationkey"))
      .collect().map(_.getAs[Long]("s_suppkey")).toSet
    val want = (dominant intersect region1)
    assert(rows.map(_.getAs[Long]("s_suppkey")).toSet == want)
  }

  test("q9_product_profit: star-join rollup matches brute force; dims broadcast") {
    val rows = ops.Relational.q9ProductProfit(spark, sf).collect()
    assert(rows.nonEmpty)
    // brute-force the star join over collected rows
    val parts = Tables.part(spark, sf).filter(col("p_name").contains("plat"))
      .collect().map(r => r.getAs[Long]("p_partkey") ->
        math.floor(r.getAs[Double]("p_retailprice") * 100.0).toLong).toMap
    val supN = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf),
        col("s_nationkey") === col("n_nationkey"))
      .collect().map(r => r.getAs[Long]("s_suppkey") ->
        r.getAs[String]("n_name")).toMap
    val oYear = Tables.orders(spark, sf).collect()
      .map(r => r.getAs[Long]("o_orderkey") ->
        r.getAs[java.time.LocalDateTime]("o_orderdate").getYear)
      .toMap
    val want = Tables.lineitem(spark, sf).collect().flatMap { r =>
      parts.get(r.getAs[Long]("l_partkey")).map { retail =>
        val price = math.floor(r.getAs[Double]("l_extendedprice") * 100.0).toLong
        val d2 = math.round(r.getAs[Double]("l_discount") * 100.0)
        val qty = r.getAs[Double]("l_quantity").toLong
        ((supN(r.getAs[Long]("l_suppkey")),
          oYear(r.getAs[Long]("l_orderkey"))),
          price * (100L - d2) - retail * qty * 100L)
      }
    }.groupBy(_._1).view
      .mapValues(vs => (vs.map(_._2).sum, vs.length.toLong)).toMap
    val got = rows.map(r => (r.getString(0), r.getInt(1)) ->
      (r.getAs[Long]("profit_e4"), r.getAs[Long]("n_lines"))).toMap
    assert(got == want, "star-join rollup must match brute force exactly")
    // both dims broadcast: no SMJ below the rollup for part/supplier
    val plan = ops.Relational.q9ProductProfit(spark, sf)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"part + supplier/nation dims must broadcast:\n${plan.take(1200)}")
  }

  test("q4_priority_check: correlated EXISTS semi equals brute force") {
    val got = ops.Relational.q4PriorityCheck(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("order_count")).toMap
    val lateByOrder = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getAs[java.sql.Date]("sd").toLocalDate).toSeq)
      .toMap
    val want = Tables.orders(spark, sf).collect()
      .map(r => (r.getAs[Long]("o_orderkey"),
        r.getAs[java.time.LocalDateTime]("o_orderdate").toLocalDate,
        r.getAs[String]("o_orderpriority")))
      .filter { case (_, d, _) =>
        !d.isBefore(java.time.LocalDate.of(1997, 1, 1)) &&
          d.isBefore(java.time.LocalDate.of(1997, 4, 1)) }
      .filter { case (ok, d, _) =>
        lateByOrder.getOrElse(ok, Seq.empty[java.time.LocalDate])
          .exists(sd => java.time.temporal.ChronoUnit.DAYS.between(d, sd) > 60) }
      .groupBy(_._3).view.mapValues(_.length.toLong).toMap
    assert(got == want, s"got $got want $want")
  }

  test("q16_supplier_diversity: NOT IN anti + distinct count equals brute force") {
    val rows = ops.Relational.q16SupplierDiversity(spark, sf).collect()
    assert(rows.nonEmpty)
    val parts = Tables.part(spark, sf).collect()
      .filter(r => r.getAs[String]("p_brand") != "Brand#1" &&
        r.getAs[String]("p_type") != "PROMO" &&
        Set(1, 5, 9, 13)(r.getAs[Int]("p_size")))
      .map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[String]("p_brand"), r.getAs[String]("p_type"),
          r.getAs[Int]("p_size"))).toMap
    val flagged = Tables.supplier(spark, sf)
      .filter(col("s_acctbal") < 2500).collect()
      .map(_.getAs[Long]("s_suppkey")).toSet
    assert(flagged.nonEmpty, "guard: the exclusion list must be non-empty")
    val want = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey")).collect()
      .flatMap { r =>
        val s = r.getLong(1)
        if (flagged(s)) None else parts.get(r.getLong(0)).map(_ -> s) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length.toLong).toMap
    val got = rows.map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
      r.getAs[Long]("supplier_cnt")).toMap
    assert(got == want)
    // the exclusion is a broadcast anti join, never a shuffled NOT IN
    val plan = ops.Relational.q16SupplierDiversity(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"flagged suppliers must broadcast-anti:\n${plan.take(1000)}")
  }

  test("rolling_distinct_users matches brute force over collected events") {
    val out = ops.Relational.rollingDistinctUsers(spark, sf).collect()
      .map(r => r.getAs[String]("win_day") -> r.getAs[Long]("users_7d")).toMap
    val ev = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      .collect().map(r => (r.getAs[java.sql.Date]("d").toLocalDate,
        r.getAs[Long]("user_id")))
    val days = ev.map(_._1).distinct
    val want = days.map { w =>
      w.toString -> ev.filter { case (d, _) =>
        !d.isAfter(w) && d.isAfter(w.minusDays(7)) }.map(_._2).distinct.size.toLong
    }.toMap
    assert(out == want)
  }

  test("emb_spectrum_gate: exact trace, converged residual, spectral bound") {
    val r = ops.Vector.embSpectrumGate(spark, sf).collect().head
    assert(r.getAs[Boolean]("resid_ok"), "power iteration must converge")
    assert(r.getAs[Boolean]("eig_bound_ok"))
    // trace must equal the brute-force sum of squared e4 components
    val want = Tables.embeddings(spark, sf).collect().map { row =>
      row.getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => { val e = math.floor(x.toDouble * 10000.0).toLong; e * e }).sum
    }.sum
    assert(r.getAs[Long]("trace_e8") == want)
    assert(r.getAs[Long]("n_vecs") ==
      Tables.embeddings(spark, sf).count())
  }

  test("trigram backoff: held-in docs never back off, held-out docs do") {
    // The LM trains on the md5(doc_id) < '80' shard. A train doc's own
    // trigrams are all in the counts (c3 >= 1), so its n_backoff must
    // be exactly 0; held-out docs must exercise the backoff chain
    // somewhere (else the operator degenerates to corpus-as-LM and the
    // 0.4 path is dead code).
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = ops.Text.trigramLogprob(spark, sf).collect()
    var heldOutBackoffs = 0L
    rows.foreach { r =>
      val heldIn = md5hex(r.getAs[Long]("doc_id").toString) < "80"
      val nb = r.getAs[Long]("n_backoff")
      if (heldIn) assert(nb == 0L, s"train doc ${r.get(0)} backed off $nb times")
      else heldOutBackoffs += nb
      assert(r.getAs[Long]("sum_surprisal_e4") >= 0L)
    }
    assert(heldOutBackoffs > 0L, "no held-out token ever backed off")
  }

  test("hist rollup percentiles equal brute force over merged bins") {
    val rows = ops.Relational.histQuantileRollup(spark, sf).collect()
    val vals = Tables.orders(spark, sf).select(col("o_totalprice")).collect()
      .map(r => math.min(math.floor(r.getDouble(0) * 100.0).toLong / 200000L, 255L))
    val total = vals.length.toLong
    val hist = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bins = hist.keys.toSeq.sorted
    def pctBin(p: Long): Long = {
      var cum = 0L
      bins.find { b => cum += hist(b); cum * 100 >= p * total }.get
    }
    assert(rows.length == 3)
    rows.foreach { r =>
      val p = r.getAs[Long]("pct")
      assert(r.getAs[Long]("bin") == pctBin(p), s"p$p bin")
      assert(r.getAs[Long]("upper_cents") == (pctBin(p) + 1) * 200000L)
      assert(r.getAs[Long]("total") == total)
    }
  }

  test("skew plan: salt = ceil(cnt/target) against brute-force counts") {
    val rows = ops.Relational.skewPlan(spark, sf).collect()
    val keys = Tables.lineitem(spark, sf).select(col("l_partkey")).collect()
      .map(r => 1000L / ((r.getAs[Number](0).longValue % 1000) + 1))
    val total = keys.length.toLong
    val target = (total + 31) / 32
    val counts = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = counts.toSeq.sortBy { case (k, n) => (-n, k) }.take(20)
    assert(rows.length == math.min(want.length, 20))
    rows.zip(want).foreach { case (r, (k, n)) =>
      assert(r.getAs[Long]("k") == k)
      assert(r.getAs[Long]("n_occ") == n)
      assert(r.getAs[Long]("salt") == (n + target - 1) / target)
      assert(r.getAs[Long]("share_e4") == n * 10000 / total)
    }
    assert(rows.exists(_.getAs[Long]("salt") > 1), "fixture has a hot key")
    assert(rows.exists(_.getAs[Long]("salt") == 1), "and a cold tail")
  }

  test("weighted sample: inclusion is exactly the per-row hex threshold") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = ops.Text.sampleWeighted(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
    val want = docs.filter { r =>
      val u = md5hex(r.getAs[Long]("doc_id").toString).substring(0, 8)
      val thr = f"${math.min(r.getAs[Long]("n_chars"), 4095L) * 1048576L}%08x"
      u < thr
    }.map(_.getAs[Long]("doc_id")).toSet
    assert(got == want, "engine sample = brute-force predicate")
    assert(got.nonEmpty && got.size < docs.length)
  }

  test("er fuzzy block: pairs match brute-force all-pairs within blocks") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val got = ops.Dedup.erFuzzyBlock(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Int]("lev"))).toSet
    val names = Tables.part(spark, sf).select(col("p_name")).distinct()
      .collect().map(_.getString(0))
    val want = (for {
      a <- names; b <- names
      if a < b && a.split(" ")(1) == b.split(" ")(1) && lev(a, b) <= 2
    } yield (a, b, lev(a, b))).toSet
    assert(got == want)
    assert(got.nonEmpty, "fixture vocabulary yields at least one near pair")
  }

  test("trailingMoments delta stream equals brute-force frames at every boundary") {
    import spark.implicits._
    // adversarial timeline the parquet fixtures don't guarantee:
    // same-second ties, exactly-86400 separations (IN frame by RANGE
    // semantics), 86401 (just OUT), rows at and straddling the
    // day-slice boundary, a second type interleaved
    val rows = Seq(
      (1L, "a", 0L, 10L), (2L, "a", 0L, 20L),
      (3L, "a", 86399L, 30L),
      (4L, "a", 86400L, 40L), // rows 1-2 exactly 86400 old -> still IN
      (5L, "a", 86401L, 50L), // rows 1-2 now out; 3-5 in
      (6L, "a", 172799L, 60L), (7L, "a", 172800L, 70L),
      (8L, "a", 200000L, 80L),
      (9L, "b", 86400L, 15L), (10L, "b", 90000L, 25L))
    val got = ops.Relational.trailingMoments(
        rows.toDF("event_id", "event_type", "secs", "v")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    val want = rows.map { case (id, typ, secs, _) =>
      val frame = rows.filter { case (_, t2, s2, _) =>
        t2 == typ && s2 >= secs - 86400L && s2 <= secs }
      id -> ((frame.size.toLong, frame.map(_._4).sum,
        frame.map(x => x._4 * x._4).sum))
    }.toMap
    assert(got == want, s"per-row moments diverge: got $got want $want")
  }

  test("trailingMoments equals brute force on random tie-heavy timelines") {
    import spark.implicits._
    val rng = new scala.util.Random(0x5eed)
    (1 to 5).foreach { round =>
      // clustered secs (mod small ranges) force many exact ties and
      // many exact-frame-width gaps; two interleaved types
      val rows = (1 to 300).map { i =>
        val base = rng.nextInt(4) match {
          case 0 => rng.nextInt(200) * 43200L      // half-day lattice
          case 1 => rng.nextInt(50) * 86400L       // exact day lattice
          case 2 => rng.nextInt(20000).toLong      // dense start
          case _ => rng.nextInt(300000).toLong     // spread
        }
        (i.toLong + round * 1000L, if (rng.nextBoolean()) "a" else "b",
          base, (rng.nextInt(200) - 100).toLong)
      }
      val got = ops.Relational.trailingMoments(
          rows.toDF("event_id", "event_type", "secs", "v")).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      val want = rows.map { case (id, typ, secs, _) =>
        val fr = rows.filter { case (_, t2, s2, _) =>
          t2 == typ && s2 >= secs - 86400L && s2 <= secs }
        id -> ((fr.size.toLong, fr.map(_._4).sum,
          fr.map(x => x._4 * x._4).sum))
      }.toMap
      assert(got == want, s"round $round: moments diverge")
    }
  }

  test("grouped heap top-k equals the window-sort answer") {
    val got = ops.Relational.topkGroupedHeap(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("rank"),
        r.getAs[Long]("o_orderkey"), r.getAs[Long]("price_cents")))
    val want = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("o_orderkey"),
        math.floor(r.getAs[Double]("o_totalprice") * 100.0).toLong))
      .groupBy(_._1).toSeq.flatMap { case (p, rows) =>
        rows.sortBy { case (_, id, c) => (-c, id) }.take(5).zipWithIndex
          .map { case ((_, id, c), i) => (p, i + 1L, id, c) }
      }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
  }

  test("window funnel: stage counts match min-chain brute force") {
    val got = ops.Relational.funnelWindowSeq(spark, sf).collect()
      .map(r => r.getAs[Long]("stage") -> r.getAs[Long]("n_users")).toMap
    val H = 72L * 3600L * 1000000L
    val byUser = Tables.events(spark, sf)
      .select(col("user_id").cast("long"), col("event_type"),
        unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    val want = byUser.values.flatMap { evs =>
      val clicks = evs.filter(_._2 == "click").map(_._3)
      if (clicks.isEmpty) None
      else {
        val t1 = clicks.min
        val tv = evs.filter(e => e._2 == "view" && e._3 > t1 && e._3 <= t1 + H)
          .map(_._3).minOption
        val tp = tv.flatMap(v => evs
          .filter(e => e._2 == "purchase" && e._3 > v && e._3 <= t1 + H)
          .map(_._3).minOption)
        Some(if (tp.isDefined) 3L else if (tv.isDefined) 2L else 1L)
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == want)
    assert(got.keySet.contains(3L), "fixture reaches the full funnel")
  }

  test("winnowing: window minima match brute force; density near 2/(w+1)") {
    val got = ops.Text.winnowingFingerprint(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_windows"), r.getAs[Long]("n_fps"),
          r.getAs[Long]("fp_checksum"))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
    var want = Map.empty[Long, (Long, Long, Long)]
    docs.foreach { r =>
      val ws = graft.functions.TextHash.tokens(r.getString(1))
      if (ws.length >= 3) {
        val hs = ws.sliding(3).map(g =>
          graft.functions.TextHash.h32(g.mkString(" "))).toArray
        val nWin = math.max(hs.length - 3, 1)
        val minima = (0 until nWin)
          .map(i => hs.slice(i, math.min(i + 4, hs.length)).min).distinct
        want += r.getAs[Long]("doc_id") ->
          ((nWin.toLong, minima.length.toLong, minima.sum))
      }
    }
    assert(got == want)
    // selection density: expected ~2/(w+1)=0.4 of windows yield a
    // distinct fingerprint; sanity-band it loosely
    val (wins, fps) = got.values.foldLeft((0L, 0L)) {
      case ((a, b), (nw, nf, _)) => (a + nw, b + nf) }
    assert(fps * 10 > wins * 2 && fps * 10 < wins * 7,
      s"density ${fps.toDouble / wins} outside (0.2, 0.7)")
  }

  test("linear attribution: per-purchase credit conserves to 10000") {
    val H = 72L * 3600L * 1000000L
    val evs = Tables.events(spark, sf)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("event_type"), unix_micros(col("ts")), hour(col("ts")).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    val byUser = evs.groupBy(_._1)
    var perHour = Map.empty[Long, (Long, Long)].withDefaultValue((0L, 0L))
    var purchasesCredited = 0L
    byUser.values.foreach { us =>
      val clicks = us.filter(_._3 == "click")
      us.filter(_._3 == "purchase").foreach { case (_, _, _, pUs, _) =>
        val cand = clicks.filter(c => c._4 < pUs && c._4 >= pUs - H)
          .sortBy(c => (c._4, c._2))
        if (cand.nonEmpty) {
          purchasesCredited += 1
          val n = cand.length
          cand.zipWithIndex.foreach { case ((_, _, _, _, hr), i) =>
            val credit = 10000L / n + (if (i == 0) 10000L - n * (10000L / n) else 0L)
            val (t, c) = perHour(hr); perHour += hr -> (t + 1, c + credit)
          }
        }
      }
    }
    val got = ops.Relational.attributionLinear(spark, sf).collect()
      .map(r => r.getAs[Long]("c_hr") ->
        (r.getAs[Long]("n_touches"), r.getAs[Long]("credit_e4"))).toMap
    assert(got == perHour.toMap.filter(_._2._1 > 0))
    assert(got.values.map(_._2).sum == purchasesCredited * 10000L,
      "credit conservation: exactly 10000 per credited purchase")
  }

  test("per-group OLS matches brute-force closed form") {
    val xy = Tables.events(spark, sf)
      .select(col("event_type"), hour(col("ts")).cast("long"),
        graft.Util.cents(col("value")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = xy.groupBy(_._1).map { case (t, rows) =>
      val n = rows.length.toLong
      val sx = rows.map(_._2).sum; val sy = rows.map(_._3).sum
      val sxx = rows.map(r => r._2 * r._2).sum
      val sxy = rows.map(r => r._2 * r._3).sum
      val den = (BigInt(n) * sxx - BigInt(sx) * sx).toDouble
      val slope = math.floor((BigInt(n) * sxy - BigInt(sx) * sy).toDouble
        / den * 10000.0).toLong
      val icept = math.floor((BigInt(sy) * sxx - BigInt(sx) * sxy).toDouble
        / den * 10000.0).toLong
      t -> ((n, slope, icept))
    }
    val got = ops.Relational.fitLinregGroups(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n"),
        r.getAs[Long]("slope_e4"), r.getAs[Long]("intercept_e4")))).toMap
    assert(got == want)
  }

  test("q22 windfall: integer cross-multiplied average, anti-joined orders") {
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey").cast("long"), col("c_mktsegment"),
        graft.Util.cents(col("c_acctbal")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val ordered = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("o_custkey").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val pos = cust.filter(_._3 > 0)
    val (nPos, sumPos) = (pos.length.toLong, pos.map(_._3).sum)
    val want = cust
      .filter(c => c._3 * nPos > sumPos && !ordered.contains(c._1))
      .groupBy(_._2).view
      .mapValues(cs => (cs.length.toLong, cs.map(_._3).sum)).toMap
    val got = ops.Relational.q22Windfall(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_cust"), r.getAs[Long]("bal_cents")))).toMap
    assert(got == want)
    assert(got.nonEmpty, "fixture has order-less windfall customers")
  }

  test("asof nearest: picks the min-|gap| click, ties to the earlier") {
    val H = 24L * 3600L * 1000000L
    val evs = Tables.events(spark, sf)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("event_type"), unix_micros(col("ts")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byUser = evs.groupBy(_._1)
    val want = byUser.values.flatMap { us =>
      val clicks = us.filter(_._3 == "click")
      us.filter(_._3 == "purchase").flatMap { case (_, pId, _, pUs) =>
        val cand = clicks.filter(c => math.abs(c._4 - pUs) <= H)
        if (cand.isEmpty) None
        else {
          val best = cand.minBy(c => (math.abs(c._4 - pUs), c._4, c._2))
          Some((pId, best._2, best._4 - pUs))
        }
      }
    }.toSet
    val got = ops.Relational.asofNearest(spark, sf).collect()
      .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("c_id"),
        r.getAs[Long]("gap_us"))).toSet
    assert(got == want)
    assert(got.exists(_._3 > 0) && got.exists(_._3 < 0),
      "nearest matches land on both sides of the purchase")
  }

  test("trailing z-score: flags match the brute-force 3-sigma rule") {
    // sf0.01: the sf0.001 slice is too sparse to clear 3σ at the n≥10
    // floor (verified: 0 flags there, in both engines). Prefix sums +
    // binary search keep the brute force O(n log n).
    val dir = "/root/testdata/sf0.01"
    val evs = Tables.events(spark, dir)
      .select(col("event_id").cast("long"), col("event_type"),
        unix_seconds(col("ts")), graft.Util.cents(col("value")).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = evs.groupBy(_._2).values.flatMap { rows =>
      val sorted = rows.sortBy(_._3)
      val secs = sorted.map(_._3)
      val ps = sorted.scanLeft(0L)(_ + _._4)
      val pss = sorted.scanLeft(0L)((a, r) => a + r._4 * r._4)
      def lowerBound(x: Long): Int = {
        var (lo, hi) = (0, secs.length)
        while (lo < hi) { val m = (lo + hi) / 2
          if (secs(m) < x) lo = m + 1 else hi = m }
        lo
      }
      sorted.flatMap { case (id, _, sec, v) =>
        val from = lowerBound(sec - 86400)
        val until = lowerBound(sec + 1) // peers of the current sec included
        val n = (until - from).toLong
        val s = ps(until) - ps(from)
        val ss = pss(until) - pss(from)
        val lhs = (BigInt(v) * n - s).pow(2)
        val rhs = 9 * (BigInt(n) * ss - BigInt(s) * s)
        if (n >= 10 && lhs > rhs) Some(id) else None
      }
    }.toSet
    val got = ops.Relational.windowZscoreTrailing(spark, dir).collect()
      .map(_.getAs[Long]("event_id")).toSet
    assert(got == want)
    assert(got.nonEmpty && got.size < evs.length / 10,
      s"plausible anomaly rate, got ${got.size}/${evs.length}")
  }

  test("ngram novelty: df=1 share matches brute force across the corpus") {
    val got = ops.Text.ngramNovelty(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_unique"),
          r.getAs[Long]("novelty_e4")))).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        graft.functions.TextHash.shingles(r.getString(1))
          .map(graft.functions.TextHash.h32).toSet)
    val dfm = docs.flatMap { case (id, hs) => hs.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    docs.filter(_._2.nonEmpty).foreach { case (id, hs) =>
      val uniq = hs.count(dfm(_) == 1).toLong
      assert(got(id) == ((hs.size.toLong, uniq, uniq * 10000 / hs.size)), s"doc $id")
    }
    assert(got.values.exists(_._3 > 0) && got.values.exists(_._3 < 10000),
      "corpus has both novel and common material")
  }

  test("quota sample: per-source md5 rank caps at 40, reproducibly") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = ops.Text.sampleQuota(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("rk"), r.getAs[Long]("doc_id")))
    val want = Tables.documents(spark, sf)
      .select(col("source"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getAs[Long]("doc_id")))
      .groupBy(_._1).toSeq.flatMap { case (src, ds) =>
        ds.map(_._2).sortBy(id => (md5hex(id.toString), id)).take(40)
          .zipWithIndex.map { case (id, i) => (src, i + 1L, id) }
      }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
    assert(got.groupBy(_._1).values.forall(_.length <= 40))
  }

  test("transition matrix: rows sum to totals, probs floor-normalize") {
    val rows = ops.Relational.seqTransitionMatrix(spark, sf).collect()
    val byPrev = rows.groupBy(_.getString(0))
    byPrev.foreach { case (_, rs) =>
      val tot = rs.map(_.getAs[Long]("n")).sum
      rs.foreach { r =>
        assert(r.getAs[Long]("p_e4") == r.getAs[Long]("n") * 10000 / tot)
      }
      // floor normalization: row sums to ≤ 10000, within |row| of it
      val pSum = rs.map(_.getAs[Long]("p_e4")).sum
      assert(pSum <= 10000 && pSum > 10000 - rs.length)
    }
    val nTrans = rows.map(_.getAs[Long]("n")).sum
    val users = Tables.events(spark, sf).groupBy(col("user_id")).count()
      .collect().map(_.getLong(1))
    assert(nTrans == users.map(_ - 1).sum, "transitions = Σ(events−1) per user")
  }

  test("ohlc bars: open/close follow the (ts, event_id) total order") {
    val bars = ops.Relational.resampleOhlc(spark, sf).collect()
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), unix_seconds(col("ts")),
        unix_micros(col("ts")), col("event_id").cast("long"),
        graft.Util.cents(col("value")).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1) / 21600 * 21600, r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val grouped = evs.groupBy(e => (e._2, e._1))
    assert(bars.length == grouped.size)
    bars.foreach { b =>
      val key = (java.time.LocalDateTime.parse(b.getString(0),
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        .toEpochSecond(java.time.ZoneOffset.UTC), b.getString(1))
      val rs = grouped(key).sortBy(e => (e._3, e._4))
      assert(b.getAs[Long]("open") == rs.head._5 &&
        b.getAs[Long]("close") == rs.last._5)
      assert(b.getAs[Long]("high") == rs.map(_._5).max &&
        b.getAs[Long]("low") == rs.map(_._5).min)
      assert(b.getAs[Long]("n") == rs.length.toLong)
    }
  }

  test("compaction run: idempotent, bytes equal the plan's bins") {
    val run1 = ops.Semi.compactionRun(spark, sf).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_files"),
        r.getAs[Long]("written_bytes")))
    val run2 = ops.Semi.compactionRun(spark, sf).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_files"),
        r.getAs[Long]("written_bytes")))
    assert(run1.sameElements(run2), "re-running rewrites, never appends")
    val plan = ops.Semi.compactionPlan(spark, sf).collect()
      .map(r => r.getAs[Long]("bin") -> r.getAs[Long]("length"))
      .groupBy(_._1).view
      .mapValues(v => (v.length.toLong, v.map(_._2).sum)).toMap
    assert(run1.length == plan.size)
    run1.foreach { case (bin, n, bytes) =>
      assert(plan(bin) == ((n, bytes)), s"bin $bin on-disk = planned")
    }
  }

  test("vacuum plan: orphan = md5 threshold, both classes non-empty") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = ops.Semi.vacuumPlan(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Boolean]("orphan")))
    rows.foreach { case (f, orphan) =>
      assert(orphan == (md5hex(f) < "2"), s"$f classification")
    }
    assert(rows.exists(_._2) && rows.exists(!_._2),
      "staging tree yields both orphans and registered files")
    assert(rows.map(_._1).distinct.length == rows.length,
      "basenames unique across the staging tree (manifest invariant)")
  }

  test("v14 pk audit reports the synthetic corpus's true violation profile") {
    val r = ops.Validate.v14PkUnique(spark, sf).collect().head
    val keys = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber")).collect()
      .map(x => (x.getAs[Number](0).longValue, x.getAs[Number](1).longValue))
    val counts = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(r.getAs[Long]("n_rows") == keys.length.toLong)
    assert(r.getAs[Long]("n_keys") == counts.size.toLong)
    assert(r.getAs[Long]("n_dup_keys") == counts.values.count(_ > 1).toLong)
    assert(r.getAs[Long]("max_copies") == counts.values.max)
    // the synthetic generator does NOT enforce the TPC-H PK — the audit
    // must surface that honestly, not return a vacuous all-green row
    assert(!r.getAs[Boolean]("pk_ok") && r.getAs[Long]("n_dup_keys") > 0L)
  }

  test("stream_latest_state equals the batch per-user argmax") {
    val stream = streaming.EventsStream.streamLatestState(spark, sf)
      .collect().map(_.toString)
    val batch = Tables.events(spark, sf)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
          col("event_type").as("typ"),
          graft.Util.cents(col("value")).cast("long").as("v")).as("s"))
      .groupBy(col("user_id")).agg(max(col("s")).as("s"))
      .select(col("user_id"), col("s.eid").as("event_id"),
        col("s.typ").as("event_type"), col("s.v").as("value_cents"),
        graft.Util.fmtTs(timestamp_micros(col("s.us"))).as("last_seen"))
      .orderBy(col("user_id"))
      .collect().map(_.toString)
    assert(stream.sameElements(batch))
  }

  test("stream_hist_rollup equals the batch histogram read-off") {
    val stream = streaming.EventsStream.streamHistRollup(spark, sf)
      .collect().map(_.toString)
    val merged = Tables.events(spark, sf)
      .select(least(graft.Util.cents(col("value")).cast("long") / lit(50L),
        lit(255L)).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    val batch = ops.Relational.histPercentiles(spark, merged, 50L)
      .collect().map(_.toString)
    assert(stream.sameElements(batch))
  }

  test("stream_static_enrich equals the batch join it enriches") {
    val stream = streaming.EventsStream.streamStaticEnrich(spark, sf)
      .collect().map(_.toString)
    val dim = Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
    val batch = Tables.events(spark, sf)
      .withColumn("nk", pmod(col("user_id"), lit(25)))
      .join(broadcast(dim), Seq("nk"))
      .groupBy(window(col("ts"), "1 day"), col("n_name"))
      .agg(count(lit(1)).as("n"),
        sum(graft.Util.cents(col("value"))).as("sum_cents"))
      .select(graft.Util.fmtTs(col("window.start")).as("day_start"),
        col("n_name"), col("n"), col("sum_cents").cast("long").as("sum_cents"))
      .orderBy(col("day_start"), col("n_name"))
      .collect().map(_.toString)
    assert(stream.sameElements(batch))
  }
}

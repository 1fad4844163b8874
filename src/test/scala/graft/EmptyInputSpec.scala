package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.ops.{Acl, Relational, Text, Vector}

/** Grand totals over EMPTY inputs that keep their real schema: a count
  * is 0, never NULL — what the oracles' `count(1)` and native
  * CUBE / GROUPING SETS give. The retrieval queries, whose fixed query
  * sets and index statistics enter the plan as literals, return no
  * row when those literals are NULL, empty, or miss a key. */
class EmptyInputSpec extends SparkSuite {

  /** A dataset dir holding zero-row copies of `tables` from `sf`. */
  private def emptyCopy(tables: String*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    tables.foreach(t => Tables.table(spark, sf, t).limit(0)
      .write.parquet(s"$dir/$t.parquet"))
    dir
  }

  test("acl_audit on an empty corpus: every principal sees 0 rows") {
    val rows = Acl.aclAudit(spark, emptyCopy("documents")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("ada", "bo", "cy", "dee", "ev"))
    assert(rows.exists(_.getString(1) == "Admin"))
    assert(rows.forall(r => !r.isNullAt(4) && r.getLong(4) == 0L),
      "visible_rows: " + rows.map(r => r.get(4)).mkString(", "))
  }

  test("agg_cube on empty lineitem: the grand total row counts 0") {
    val rows = Relational.aggCube(spark, emptyCopy("lineitem")).collect()
    assert(rows.toSeq == Seq(Row(null, null, 0L, null)), rows.toSeq)
  }

  test("agg_grouping_sets on empty lineitem: the () set counts 0") {
    val rows = Relational.aggGroupingSets(spark, emptyCopy("lineitem"))
      .collect()
    assert(rows.toSeq == Seq(Row("<all>", "<all>", 1, 1, 0L, null)), rows.toSeq)
  }

  private val retrieval = Seq("t_bm25_topk", "rag_fusion_rrf", "ann_ivf_topk")

  test("retrieval on an empty corpus and embeddings: 0 rows, no error") {
    val d = emptyCopy("documents", "embeddings")
    // the literals the legs take: a NULL Σdl, an empty query-term map,
    // no query vector
    assert(Text.lexSnapshot(spark, d) ==
      Text.LexSnapshot(0L, None, Map.empty))
    assert(Vector.queryVecs(spark, d).isEmpty)
    retrieval.foreach { q =>
      val rows = SparkEntry.queries(q)(spark, d).collect()
      assert(rows.isEmpty, s"$q: ${rows.toSeq}")
    }
  }

  test("no fixed query vector in embeddings: the dense legs return 0 rows") {
    val d = emptyCopy("documents")
    Tables.embeddings(spark, sf).filter(col("vec_id") > 3L)
      .write.parquet(s"$d/embeddings.parquet")
    assert(Vector.queryVecs(spark, d).isEmpty)
    assert(SparkEntry.queries("ann_ivf_topk")(spark, d).collect().isEmpty)
    assert(Text.denseTopk(spark, d).collect().isEmpty)
  }

  test("a literal lookup of a missing key gives no row under ANSI") {
    import spark.implicits._
    val rows = Util.withConf(spark, "spark.sql.ansi.enabled", "true") {
      Seq(1, 2).toDF("k")
        .select(col("k"), Util.explodeLookup(Map(1 -> Seq("a", "b")),
          col("k")).as("v"))
        .collect()
    }
    assert(rows.toSeq == Seq(Row(1, "a"), Row(1, "b")), rows.toSeq)
    val none = Seq(1).toDF("k")
      .select(Util.explodeLookup(Map.empty[Int, Seq[String]], col("k")))
    assert(none.collect().isEmpty)
  }
}

package graft

import org.apache.spark.sql.Row

import graft.ops.{Acl, Relational}

/** Grand totals over EMPTY inputs that keep their real schema: a count
  * is 0, never NULL — what the oracles' `count(1)` and native
  * CUBE / GROUPING SETS give. */
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
}

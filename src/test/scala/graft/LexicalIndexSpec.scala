package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, max, min, sum}

import graft.ops.Text

/** The lexical index stores each doc's length on its postings, and the
  * query-likelihood leg scores a candidate from its matched postings
  * plus every query term's tf = 0 floor. On a hand-built corpus that
  * holds the edge cases of that identity, both lexical legs must equal
  * their DuckDB definitions row for row. */
class LexicalIndexSpec extends SparkSuite {

  /** Retrieval terms: q1 hash+join, q2 window+agg, q3 stream+batch,
    * q4 sort+merge+join ([[Text.RetrievalQueries]]). */
  private val corpus = Seq(
    1L -> "hash table probe",          // one of q1's two terms
    2L -> "hash join build",           // both of q1's terms
    3L -> "join join key",             // q1 and q4 through "join", tf 2
    4L -> "   ",                       // separators only: no posting
    5L -> "window agg agg",
    6L -> "stream of events",          // q3: "batch" is in no doc
    7L -> "sort merge left",           // 7 and 8 tie on both legs
    8L -> "sort merge right",
    9L -> "Window  spaced out",        // upper case, an empty token
    10L -> "plain words only",
    // more q2 matches than doc 5, but 44 tokens long: the tf = 0 floors
    // fall with dl, so it ranks below doc 5 on the QL leg
    11L -> ("agg agg agg window" + " pad" * 40))

  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_lexindex").toString
    corpus.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    Tables.embeddings(spark, sf).limit(0).write.parquet(s"$d/embeddings.parquet")
    d
  }

  /** Rows of `sql` run by DuckDB (the oracle engine of scripts/check.py)
    * over `dir`'s tables, each value as its string. */
  private def duck(sql: String): Seq[Seq[String]] = {
    val script =
      s"""import duckdb, sys
         |con = duckdb.connect()
         |for t in ("documents", "embeddings"):
         |    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('$dir/{t}.parquet/*.parquet')")
         |for r in con.sql(sys.stdin.read()).fetchall():
         |    print("\\t".join(str(v) for v in r))
         |""".stripMargin
    val out = (scala.sys.process.Process(Seq("python3", "-c", script)) #<
      new java.io.ByteArrayInputStream(sql.getBytes("UTF-8"))).!!
    out.linesIterator.filter(_.nonEmpty).map(_.split('\t').toSeq).toSeq
  }

  private def rows(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf))

  test("bm25Topk equals its DuckDB definition on the edge-case corpus") {
    val got = rows(Text.bm25Topk(spark, dir))
    assert(got == duck(Text.bm25TopkSql))
    // the tied docs rank by doc_id at one score
    val q4 = got.filter(_.head == "q4").map(r => r(2) -> r(3)).toMap
    assert(q4("7") == q4("8"), got)
    assert(got.indexWhere(r => r.head == "q4" && r(2) == "7") <
      got.indexWhere(r => r.head == "q4" && r(2) == "8"))
  }

  test("qlTopk equals its DuckDB definition on the edge-case corpus") {
    val got = rows(Text.qlTopk(spark, dir).orderBy(col("query_id"), col("rk")))
    val want = duck(s"""WITH ${Text.ragFusionCtes}
      SELECT query_id, rk, doc_id FROM qlrank WHERE rk <= 10
      ORDER BY query_id, rk""")
    assert(got == want)
    def docsOf(q: String) = got.filter(_.head == q).map(_(2))
    // a doc holding one of q1's terms ranks, scored with the other at
    // its floor, below the doc holding both
    assert(docsOf("q1").take(1) == Seq("2"), got)
    assert(docsOf("q1").contains("1"), got)
    assert(docsOf("q2").filter(Set("5", "11")) == Seq("5", "11"), got)
    // "batch" has cf 0, so q3 ranks on "stream" alone
    assert(!Text.lexSnapshot(spark, dir).termStats.contains("batch"))
    assert(docsOf("q3") == Seq("6"), got)
    // the tied pair keeps doc_id order
    assert(docsOf("q4").filter(Set("7", "8")) == Seq("7", "8"), got)
  }

  test("every posting carries its doc's length; the totals are unchanged") {
    // dl is its doc's Σtf on every posting, and the totals are the count
    // and total of those sums — checked against DuckDB's `dl` and
    // `stats`, which tokenize the corpus themselves
    val perDoc = Text.termFreqs(spark, dir).groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("s"), min(col("dl")).as("lo"),
        max(col("dl")).as("hi"))
    val bad = perDoc.filter(col("lo") =!= col("s") || col("hi") =!= col("s"))
    assert(bad.isEmpty, bad.collect().toSeq)
    assert(rows(perDoc.select(col("doc_id"), col("s")).orderBy(col("doc_id"))) ==
      duck(s"WITH ${Text.bm25Ctes} SELECT doc_id, dl FROM dl ORDER BY doc_id"))
    val snap = Text.lexSnapshot(spark, dir)
    assert(Row(snap.nDocs, snap.dlTotal.get) ==
      perDoc.agg(count(col("doc_id")), sum(col("s"))).head())
    assert(Seq(Seq(snap.nDocs.toString, snap.dlTotal.get.toString)) ==
      duck(s"WITH ${Text.bm25Ctes} SELECT n_docs, dl_total FROM stats"))
    // the separator-only doc has no posting and is not counted
    assert(snap.nDocs == corpus.size - 1)
    assert(Text.termFreqs(spark, dir).filter(col("doc_id") === 4L).isEmpty)
  }

  test("the postings are written sorted by (doc_id, term) in each file") {
    val tf = Text.termFreqs(spark, dir)
    val files = tf.inputFiles.toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val keys = Tables.parquet(spark, new java.net.URI(f).getPath)
        .select(col("doc_id"), col("term"))
        .collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
      assert(keys == keys.sorted, s"$f is not in (doc_id, term) order")
    }
  }
}

package graft

import org.apache.spark.sql.functions._

/** Reader-layer robustness: the events INT64 timestamp normalization
  * follows the file's parquet logical-type ANNOTATION, with the
  * magnitude heuristic only as the unannotated fallback. */
class TablesSpec extends SparkSuite {

  private val fx = Tables.FixturesDir

  test("ts unit comes from the parquet annotation, not magnitude") {
    assert(Tables.sniffTsMode(s"$fx/ts_nanos.parquet") == Some(1))
    assert(Tables.sniffTsMode(s"$fx/ts_millis.parquet") == Some(3))
    // the driver testdata is annotated too — whichever unit, never None
    assert(Tables.sniffTsMode(s"$sf/events.parquet").isDefined)
    // no ts field / no file → None → magnitude fallback
    assert(Tables.sniffTsMode(s"$fx/does_not_exist.parquet").isEmpty)
  }

  test("pre-1973 nanosecond epoch reads correctly via the annotation") {
    // 31536000e9 ns = 1971-01-01: its magnitude (3.15e16 < 1e17) makes
    // the heuristic read it as MICROSECONDS — year 2969, 1000x wrong.
    // The annotation path must divide by 1000 and land on 1971.
    val dir = java.nio.file.Files.createTempDirectory("graft_tsfix")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$fx/ts_nanos.parquet"),
      dir.resolve("events.parquet"))
    val got = Tables.events(spark, dir.toString)
      .select(year(col("ts"))).collect().map(_.getInt(0)).sorted
    assert(got.toSeq == Seq(1971, 1976), s"annotation must win: ${got.toSeq}")
  }

  test("unannotated INT64 ts falls back to the magnitude heuristic") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tsraw").toString
    // plain BIGINT ts (no timestamp annotation): ms-, µs- and ns-range
    // epochs of the same instant — the three-tier CASE must route each
    // correctly (the ms tier is the r7-advice case: a MILLIS file
    // staged after a stream was declared reads through this fallback)
    Seq((1L, 1706659200000000L), (2L, 1706659200000000000L),
      (3L, 1706659200000L))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(Tables.sniffTsMode(s"$dir/events.parquet").isEmpty)
    val got = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("us", expr(Tables.tsToMicrosSql(dir)))
      .select(col("us")).collect().map(_.getLong(0)).toSet
    assert(got == Set(1706659200000000L))
  }

  test("Tables.parquet re-infers the schema of a rewritten file") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pqmemo")
    def partOf(df: org.apache.spark.sql.DataFrame, name: String)
        : java.nio.file.Path = {
      val out = tmp.resolve(name).toString
      df.coalesce(1).write.parquet(out)
      new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet"))
        .get.toPath
    }
    val a = partOf(Seq((1L, "a")).toDF("id", "s"), "a")
    val b = partOf(Seq((2L, 2.5, "b")).toDF("id", "x", "s"), "b")
    val path = tmp.resolve("t.parquet")
    java.nio.file.Files.copy(a, path)
    assert(Tables.parquet(spark, path.toString).columns.toSeq == Seq("id", "s"))
    // same path, new length and mtime: the memo must not serve the old
    // schema
    java.nio.file.Files.copy(b, path,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val df = Tables.parquet(spark, path.toString)
    assert(df.columns.toSeq == Seq("id", "x", "s"))
    assert(df.collect().toSeq == Seq(org.apache.spark.sql.Row(2L, 2.5, "b")))
  }

  test("src/main has no schema-less .read.parquet( outside Tables.parquet") {
    // a schema-less read launches a footer-inference job at every
    // DataFrame construction; Tables.parquet memoises the schema.
    import scala.jdk.CollectionConverters._
    val schemaLess = """\.read\s*\.parquet\(""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.getFileName.toString == "Tables.scala"))
    val hits = files.flatMap { p =>
      val src = java.nio.file.Files.readString(p)
      val lines = src.split("\n", -1)
      def lineOf(offset: Int): Int = src.substring(0, offset).count(_ == '\n')
      // the helper's own inference read is the one allowed site
      val helper =
        if (p.getFileName.toString != "Tables.scala") Range(0, 0)
        else {
          val from = lines.indexWhere(_.contains("def parquet("))
          Range(from, lines.indexWhere(_.contains("parquetSchemas ="), from))
        }
      schemaLess.findAllMatchIn(src).map(m => lineOf(m.start))
        .filterNot(helper.contains)
        .map(l => s"$p:${l + 1}: ${lines(l).trim}")
    }
    assert(hits.isEmpty, "schema-less parquet reads — use Tables.parquet:\n" +
      hits.mkString("\n"))
  }
}

package graft

import org.apache.spark.sql.functions._

/** Adversarial scale probe: replicates the documents table N× (every
  * doc gets N−1 exact copies — the worst-case duplicate structure for
  * dedup-family operators) and times document-side queries against the
  * inflated corpus. This is the reproducible tool behind PERF.md's
  * "Adversarial scale probe" table.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        SPARK_GRAFT_PROBE_FACTOR=20 \
  *        sbt "runMain graft.Probe [query ...]"
  * With no args, probes the document-table operators most sensitive to
  * duplicate blowup. Prints one JSON line like Bench.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_PROBE_FACTOR", "20").toInt
    val spark = Session.local()

    val dir = "/tmp/graft_probe_corpus"
    Tables.documents(spark, sfDir)
      .crossJoin(broadcast(spark.range(factor).select(col("id").as("rep"))))
      .select((col("doc_id") * factor + col("rep")).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()

    val defaults = Seq("dedup_exact_hash", "t_chunk_dedup",
      "t_perplexity_buckets", "t_mixture_plan", "t_pack_sequences",
      "corpus_filter_funnel")
    val sel = if (args.nonEmpty) args.toSeq else defaults
    val results = sel.map { name =>
      val t0 = System.nanoTime()
      val rows =
        try SparkEntry.queries.get(name) match {
          case Some(fn) => fn(spark, dir).count()
          case None => sys.error(s"unknown query '$name'")
        }
        catch { case e: Throwable =>
          System.err.println(s"[probe] $name FAILED: ${e.getMessage}"); -1L
        }
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[probe] $name%-24s $secs%8.1f s  $rows%,d rows")
      (name, secs, rows)
    }
    val qs = results
      .map { case (n, s, r) => s""""$n":{"sec":$s,"rows":$r}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"probe","docs":$nDocs,"factor":$factor,"queries":$qs}""")
    spark.stop()
  }
}

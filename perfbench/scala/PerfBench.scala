package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.types.StructType

/** Closed-loop benchmark client for `graft.SparkEntry.queries`.
  *
  * One thread runs the workload's queries one after another, in a
  * per-pass order drawn from `--seed`, and times three phases of each
  * query from outside the engine:
  *   - build:   the `QFn` call (the builders' eager work runs here);
  *   - plan:    forcing `queryExecution.executedPlan` (Catalyst + rules);
  *   - execute: full materialisation of every output row, hashed into a
  *              fingerprint (no column is pruned, unlike `count()`).
  *
  * A run is one cold pass (it prints `PERFBENCH_COLD_END <epoch ms>`,
  * which ends the caller's `setup_s` clock), `--warmup` unmeasured
  * passes (the first one also dumps each result for the oracle check),
  * then measured passes until `--seconds` have elapsed.
  * With `--trace 1` a [[Tracer]] listener is attached on every other
  * measured pass; the untraced passes between them give the tracing
  * overhead. Writes `result.json` (and `spans.jsonl` when traced) under
  * `--out`.
  */
object PerfBench {
  final case class Opts(queries: Seq[String], seed: Long,
      seconds: Double, trace: Boolean, sf: String, out: String, cpus: Int,
      warmup: Int)

  final case class QRun(q: String, pass: Int, build: Double, plan: Double,
      exec: Double, analysis: Double, optimization: Double, planning: Double,
      rows: Long, fp: Long, err: Option[String], t0: Long, t1: Long,
      t2: Long, t3: Long)

  final case class Pass(idx: Int, kind: String, traced: Boolean, wall: Double,
      cpu: Double, gc: Double, runs: Seq[QRun])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("queries").split(",").toSeq, m("seed").toLong,
      m("seconds").toDouble, m.getOrElse("trace", "0") == "1", m("sf"),
      m("out"), m("cpus").toInt, m("warmup").toInt)
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSec: Double = os.getProcessCpuTime / 1e9
  def gcSec: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3
  def jitSec: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  val TagKey = "perfbench.tag"

  /** Runs every output row of `qe`'s executed plan and folds it into
    * (row count, order-independent 64-bit fingerprint). With `keep`,
    * the rows are also collected into this JVM (for the oracle dump). */
  def materialise(qe: QueryExecution, keep: Boolean): (Long, Long, Array[InternalRow]) = {
    val schema = qe.executedPlan.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        val kept = mutable.ArrayBuffer.empty[InternalRow]
        var n = 0L
        var h = 0L
        while (it.hasNext) {
          val u = it.next() match {
            case r: UnsafeRow => r
            case r => proj(r)
          }
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
            u.getSizeInBytes, 42L)
          if (keep) kept += u.copy()
        }
        Iterator.single((n, h, kept.toArray))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum, parts.flatMap(_._3))
  }

  /** Writes collected result rows as parquet for the oracle check. */
  def dump(spark: SparkSession, schema: StructType, rows: Array[InternalRow],
      path: String): Unit = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val ext = rows.toSeq.map(r => toRow(r).asInstanceOf[Row]).asJava
    spark.createDataFrame(ext, schema).coalesce(1).write.mode("overwrite").parquet(path)
  }

  def phaseSec(qe: QueryExecution, phase: String): Double =
    qe.tracker.phases.get(phase).map(_.durationMs / 1e3).getOrElse(0.0)

  def runQuery(spark: SparkSession, q: String, fn: (SparkSession, String) => DataFrame,
      sf: String, pass: Int, dumpDir: Option[String]): QRun = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    var t1, t2 = t0
    try {
      sc.setLocalProperty(TagKey, s"$pass|$q|build")
      val df = fn(spark, sf)
      t1 = System.nanoTime()
      sc.setLocalProperty(TagKey, s"$pass|$q|plan")
      val qe = df.queryExecution
      qe.executedPlan
      t2 = System.nanoTime()
      sc.setLocalProperty(TagKey, s"$pass|$q|exec")
      val (rows, fp, kept) = materialise(qe, dumpDir.isDefined)
      val t3 = System.nanoTime()
      dumpDir.foreach(d => dump(spark, qe.executedPlan.schema, kept, s"$d/$q"))
      QRun(q, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        phaseSec(qe, "analysis"), phaseSec(qe, "optimization"),
        phaseSec(qe, "planning"), rows, fp, None, t0, t1, t2, t3)
    } catch {
      case e: Throwable =>
        val t3 = System.nanoTime()
        QRun(q, pass, 0, 0, 0, 0, 0, 0, 0, 0,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)),
          t0, t1.max(t0), t2.max(t1), t3)
    } finally sc.setLocalProperty(TagKey, null)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val registry = graft.SparkEntry.queries
    val unknown = o.queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    require(o.warmup >= 1, "--warmup must be at least 1 (it dumps the results)")
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    def runPass(idx: Int, kind: String, traced: Boolean,
        dumpDir: Option[String] = None): Pass = {
      val order = new scala.util.Random(o.seed * 1000003L + idx).shuffle(o.queries)
      val (c0, g0, w0) = (cpuSec, gcSec, System.nanoTime())
      val runs = order.map(q => runQuery(spark, q, registry(q), o.sf, idx, dumpDir))
      Pass(idx, kind, traced, (System.nanoTime() - w0) / 1e9,
        cpuSec - c0, gcSec - g0, runs)
    }

    val cold = runPass(0, "cold", traced = false)
    println(s"PERFBENCH_COLD_END ${System.currentTimeMillis()}")
    System.out.flush()
    // The first warm-up pass also collects every result for the oracle
    // dump; its timings feed no metric.
    val warm = (1 to o.warmup).map(i => runPass(i, "warmup", traced = false,
      if (i == 1) Some(s"${o.out}/results") else None))
    val tracer = new Tracer
    val stealStart = HostStat.read()
    val jit0 = jitSec
    val winStart = System.nanoTime()
    val measured = mutable.ArrayBuffer.empty[Pass]
    // Medians need 2 passes; a traced run alternates traced/untraced.
    val minPasses = if (o.trace) 4 else 2
    while ((System.nanoTime() - winStart) / 1e9 < o.seconds ||
        measured.size < minPasses) {
      val idx = o.warmup + 1 + measured.size
      val traced = o.trace && measured.size % 2 == 0
      if (traced) spark.sparkContext.addSparkListener(tracer)
      measured += runPass(idx, "measured", traced)
      if (traced) {
        BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
      }
    }
    val windowSec = (System.nanoTime() - winStart) / 1e9
    val windowEndMs = System.currentTimeMillis()
    val jitWindow = jitSec - jit0
    val stealPct = HostStat.stealPct(stealStart, HostStat.read())
    val tmpDisk = settledTmpDisk()
    val heapLive = liveHeapMb()

    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => o.queries.contains(k) }

    val all = Seq(cold) ++ warm ++ measured
    if (o.trace) writeSpans(o, measured.filter(_.traced).toSeq, tracer)
    val moduleOf = Modules.of
    writeResult(o, Json.obj(
      "cpus" -> Json.num(o.cpus),
      "session_ready_ms" -> Json.num(sessionReadyMs),
      "window_s" -> Json.num(windowSec),
      "window_end_ms" -> Json.num(windowEndMs),
      "jit_window_s" -> Json.num(jitWindow),
      "host_steal_pct" -> Json.num(stealPct),
      "heap_live_mb" -> Json.num(heapLive),
      "tmp_disk_bytes" -> Json.obj(tmpDisk.map { case (k, v) => k -> Json.num(v) }.toSeq: _*),
      "passes" -> Json.arr(all.map(passJson)),
      "layers" -> Json.arr(measured.filter(_.traced).toSeq.map(p => tracer.passJson(p.idx))),
      "module_of" -> Json.obj(o.queries.map(q => q -> Json.str(moduleOf.getOrElse(q, "other"))): _*),
      "oracle_sql" -> Json.obj(oracle.toSeq.map { case (k, v) => k -> Json.str(v) }: _*)))
    spark.stop()
  }

  def passJson(p: Pass): String = Json.obj(
    "idx" -> Json.num(p.idx), "kind" -> Json.str(p.kind),
    "traced" -> Json.bool(p.traced), "wall_s" -> Json.num(p.wall),
    "cpu_s" -> Json.num(p.cpu), "gc_s" -> Json.num(p.gc),
    "runs" -> Json.arr(p.runs.map { r =>
      Json.obj("q" -> Json.str(r.q), "build_s" -> Json.num(r.build),
        "plan_s" -> Json.num(r.plan), "exec_s" -> Json.num(r.exec),
        "analysis_s" -> Json.num(r.analysis),
        "optimization_s" -> Json.num(r.optimization),
        "planning_s" -> Json.num(r.planning),
        "rows" -> Json.num(r.rows), "fp" -> Json.str(r.fp.toHexString),
        "err" -> r.err.map(Json.str).getOrElse("null"))
    }))

  /** Bytes under this JVM's java.io.tmpdir and spark.local.dir, by
    * top-level entry prefix, after a full GC has let the context
    * cleaner drop unreferenced shuffle files. */
  def settledTmpDisk(): Map[String, Long] = {
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(300)
    val roots = Seq(System.getProperty("java.io.tmpdir"),
      SparkSession.active.sparkContext.getConf.get("spark.local.dir", "")).filter(_.nonEmpty).distinct
    val app = SparkSession.active.sparkContext.applicationId
    roots.flatMap { r =>
      Option(new java.io.File(r).listFiles()).toSeq.flatten.map { f =>
        val prefix =
          if (f.getName.contains(".so")) "native_libs"
          else f.getName.replace("_" + app, "").replaceAll("-[0-9a-f]{8}-[0-9a-f-]{27}$", "")
        prefix -> du(f)
      }
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else f.length()

  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def writeResult(o: Opts, json: String): Unit = {
    Files.createDirectories(Paths.get(o.out))
    Files.write(Paths.get(o.out, "result.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  /** One line per span: pass → query → build/plan/exec, with the
    * listener's counts on each phase span. */
  def writeSpans(o: Opts, passes: Seq[Pass], tracer: Tracer): Unit = {
    val lines = passes.flatMap { p =>
      val pid = s"pass-${p.idx}"
      val first = p.runs.headOption.map(_.t0).getOrElse(0L)
      val last = p.runs.lastOption.map(_.t3).getOrElse(0L)
      Json.obj("name" -> Json.str("pass"), "id" -> Json.str(pid),
        "parent" -> "null", "q" -> "null", "start_ns" -> Json.num(first),
        "end_ns" -> Json.num(last)) +: p.runs.flatMap { r =>
        val qid = s"$pid/${r.q}"
        val phases = Seq(("build", r.t0, r.t1), ("plan", r.t1, r.t2), ("exec", r.t2, r.t3))
        Json.obj("name" -> Json.str("query"), "id" -> Json.str(qid),
          "parent" -> Json.str(pid), "q" -> Json.str(r.q),
          "start_ns" -> Json.num(r.t0), "end_ns" -> Json.num(r.t3)) +:
        phases.map { case (ph, s, e) =>
          val c = tracer.counts(s"${p.idx}|${r.q}|$ph")
          Json.obj("name" -> Json.str(ph), "id" -> Json.str(s"$qid/$ph"),
            "parent" -> Json.str(qid), "q" -> Json.str(r.q),
            "start_ns" -> Json.num(s), "end_ns" -> Json.num(e),
            "counts" -> c.json)
        }
      }
    }
    Files.write(Paths.get(o.out, "spans.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Listener totals for one (pass, query, phase) tag. */
final class Counts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, schedMs, scanBytes, shWrite, shRead, spill = 0L
  def json: String = Json.obj(
    "jobs" -> Json.num(jobs), "stages" -> Json.num(stages),
    "tasks" -> Json.num(tasks), "task_run_ms" -> Json.num(runMs),
    "task_cpu_ns" -> Json.num(cpuNs), "sched_delay_ms" -> Json.num(schedMs),
    "scan_bytes" -> Json.num(scanBytes), "shuffle_write_bytes" -> Json.num(shWrite),
    "shuffle_read_bytes" -> Json.num(shRead), "spill_bytes" -> Json.num(spill))
  def +=(c: Counts): Unit = {
    jobs += c.jobs; stages += c.stages; tasks += c.tasks; runMs += c.runMs
    cpuNs += c.cpuNs; schedMs += c.schedMs; scanBytes += c.scanBytes
    shWrite += c.shWrite; shRead += c.shRead; spill += c.spill
  }
}

/** Attributes jobs, stages and task metrics to the `perfbench.tag`
  * local property ("pass|query|phase") of the thread that submitted
  * the job. Jobs submitted without the tag land under "untagged". */
final class Tracer extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val byTag = new ConcurrentHashMap[String, Counts]()
  def counts(tag: String): Counts = byTag.computeIfAbsent(tag, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(PerfBench.TagKey)))
      .getOrElse("untagged")
    counts(tag).jobs += 1
    e.stageIds.foreach(stageTag.put(_, tag))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counts(stageTag.getOrDefault(e.stageInfo.stageId, "untagged")).stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageTag.getOrDefault(e.stageId, "untagged"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.schedMs += (e.taskInfo.duration - m.executorRunTime).max(0L)
      c.scanBytes += m.inputMetrics.bytesRead
      c.shWrite += m.shuffleWriteMetrics.bytesWritten
      c.shRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
    }
  }

  /** Sums over one pass, split by phase. */
  def passJson(pass: Int): String = {
    val byPhase = Seq("build", "plan", "exec").map(_ -> new Counts).toMap
    byTag.asScala.foreach { case (tag, c) =>
      tag.split('|') match {
        case Array(p, _, ph) if p == pass.toString => byPhase(ph) += c
        case _ =>
      }
    }
    Json.obj(("pass" -> Json.num(pass)) +: byPhase.toSeq.map { case (k, v) => k -> v.json }: _*)
  }
}

/** Which graft module registers each query (the builder's home). */
object Modules {
  def of: Map[String, String] = Seq(
    "Validate" -> graft.ops.Validate.queries, "Relational" -> graft.ops.Relational.queries,
    "Semi" -> graft.ops.Semi.queries, "Config" -> graft.ops.Config.queries,
    "Acl" -> graft.ops.Acl.queries, "Text" -> graft.ops.Text.queries,
    "Dedup" -> graft.ops.Dedup.queries, "Vector" -> graft.ops.Vector.queries,
    "Multimodal" -> graft.ops.Multimodal.queries, "Sinks" -> graft.ops.Sinks.queries,
    "Flow" -> graft.ops.Flow.queries, "streaming" -> graft.streaming.EventsStream.queries,
    "plans" -> graft.plans.Plans.queries
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
}

/** Host CPU counters from /proc/stat (steal is the 8th field). */
object HostStat {
  def read(): Array[Long] = try {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next()
    cpu.trim.split("\\s+").drop(1).map(_.toLong)
  } catch { case _: Throwable => Array.empty }
  def stealPct(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) -1.0
    else {
      val total = b.zip(a).take(8).map { case (x, y) => x - y }.sum
      if (total <= 0) 0.0 else 100.0 * (b(7) - a(7)) / total
    }
}

/** Minimal JSON writer: values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

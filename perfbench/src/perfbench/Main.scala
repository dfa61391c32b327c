package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one operation reports back to the closed loop. `rows` is the
  * number of input rows the operation fully processed; `inBytes` the
  * bytes of generated input it addresses (fixed by the inputs, not by
  * how the engine reads them); `outBytes` the bytes it wrote to the
  * workload's store, where the workload measures them; `check` is an
  * optional JSON payload the correctness gate replays after the run. */
final case class OpResult(kind: String, rows: Long, check: Option[String] = None,
                          ok: Boolean = true, inBytes: Long = 0L, outBytes: Long = 0L)

final case class OpRecord(client: Int, seq: Int, kind: String, startNs: Long,
                          endNs: Long, ok: Boolean, rows: Long, inBytes: Long,
                          outBytes: Long, err: String)

/** Run context handed to a workload. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
                val tracer: Tracer) {
  /** Gate payloads of the current window. */
  val checks = new ConcurrentLinkedQueue[String]
  /** Workload-specific figures for the result file. */
  val extra = new java.util.concurrent.ConcurrentHashMap[String, String]
  /** Per-layer figures the workload measures itself (traced window). */
  val layer = new java.util.concurrent.ConcurrentHashMap[String, Double]
  def addLayer(name: String, v: Double): Unit = layer.merge(name, v, (a, b) => a + b)
  def maxLayer(name: String, v: Double): Unit = layer.merge(name, v, (a, b) => math.max(a, b))
  def t[T](name: String, req: Long)(f: => T): T = tracer.span(name, req)(f)

  /** Count and bytes of the data files under `root` (hidden and
    * metadata files excluded); (0, 0) when it does not exist. */
  def dataFiles(root: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var n = 0L
    var bytes = 0L
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next()
        val name = s.getPath.getName
        if (!name.startsWith(".") && !name.startsWith("_")) { n += 1; bytes += s.getLen }
      }
    }
    (n, bytes)
  }

  /** Release what this thread's queries cached (CacheScope's
    * thread-local contract); when traced, sample the cached bytes
    * first, while the intermediates are still held. */
  def drain(req: Long): Unit = {
    if (tracer.enabled) {
      val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      maxLayer("cachescope.cached_bytes_peak", bytes.toDouble)
    }
    t("cachescope.drain", req)(graft.CacheScope.drain())
  }
}

trait Workload {
  def clients: Int
  /** The set-up: table/index registration and builds. */
  def setup(ctx: Ctx): Unit
  /** Warm-up after the set-up, before the first timed operation. */
  def warmup(ctx: Ctx): Unit
  def op(ctx: Ctx, client: Int, seq: Int, req: Long): OpResult
  /** Restore the measured state before a second window. */
  def reset(ctx: Ctx): Unit = ()
  /** Work after a timed window: outputs for the gate, end-state sizes. */
  def finish(ctx: Ctx): Unit = ()
  /** Per-layer figures measured outside the timed window (traced run). */
  def probeLayers(ctx: Ctx): Unit = ()
}

/** Entry point: `perfbench.Main <workload> <dataDir> <workDir> <seconds>
  * <trace 0|1> <out.json>`. Runs one workload as a closed loop and
  * writes raw samples for run.py to turn into metrics. The set-up time
  * runs from JVM start until the first timed operation.
  *
  * With trace 1 the JVM measures two windows of `seconds` each: first
  * untraced, then with spans and per-span listener counts, so the
  * tracing overhead is the difference of the two. */
object Main {
  /** Span name prefixes the per-layer listener counts are grouped by. */
  val Layers = Seq("tables", "plans", "queries", "operators", "functions",
    "sources", "streaming", "cachescope")

  def main(args: Array[String]): Unit = {
    val Array(name, data, work, secs, trace, out) = args
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    // the session settings of graft.Bench
    val settings = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.ui.enabled" -> "false")
    val b = SparkSession.builder()
    settings.foreach { case (k, v) => b.config(k, v) }
    val spark = b
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = new Ctx(spark, data, work, tracer)
    val wl: Workload = name match {
      case "report_mix" => new ReportMix
      case "ingest_migrate" => new IngestMigrate
      case "vector_search" => new VectorSearch
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val s0 = System.nanoTime()
    wl.setup(ctx)
    val w0 = System.nanoTime()
    wl.warmup(ctx)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val registerS = (w0 - s0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val plain = window(ctx, wl, secs.toDouble)
    val traced =
      if (trace != "1") None
      else {
        wl.reset(ctx)
        ctx.checks.clear()
        tracer.enabled = true
        val w = window(ctx, wl, secs.toDouble)
        wl.probeLayers(ctx)
        tracer.flush()
        Files.writeString(Paths.get(s"$work/spans.jsonl"), tracer.spansJson() + "\n")
        val layerTimes = tracer.timesByName().toSeq.sortBy(_._1).map { case (n, (tot, self, cnt)) =>
          n -> Json.obj("total_ms" -> Json.num(tot), "self_ms" -> Json.num(self), "count" -> cnt.toString)
        }
        val layerExec = Layers.map(l => l -> execJson(tracer.countsUnder(l + "."), new ExecCounts))
        Some(w + (
          "layer" -> Json.obj(ctx.layer.asScala.toSeq.sortBy(_._1)
            .map { case (k, v) => k -> Json.num(v) }: _*),
          "layer_times" -> Json.obj(layerTimes: _*),
          "layer_exec" -> Json.obj(layerExec: _*)))
      }
    val result = Json.obj(
      "workload" -> Json.str(name),
      "clients" -> wl.clients.toString,
      "cores" -> cpus.toString,
      "settings" -> Json.obj(settings.map { case (k, v) => k -> Json.str(v) }: _*),
      "setup_s" -> Json.num(setupS),
      "session_s" -> Json.num(sessionS),
      "register_s" -> Json.num(registerS),
      "warmup_s" -> Json.num(warmupS),
      "untraced" -> Json.obj(plain.toSeq: _*),
      "traced" -> traced.map(t => Json.obj(t.toSeq: _*)).getOrElse("null"))
    Files.writeString(Paths.get(out), result + "\n")
    spark.stop()
  }

  /** One measured window: the closed loop, its listener counts, the
    * workload's end-of-window figures and gate payloads. */
  private def window(ctx: Ctx, wl: Workload, seconds: Double): Map[String, String] = {
    ctx.tracer.flush()
    val before = ctx.tracer.snapshot()
    val (records, windowS) = closedLoop(ctx, wl, seconds)
    ctx.tracer.flush()
    val after = ctx.tracer.snapshot()
    ctx.extra.clear()
    wl.finish(ctx)
    val ops = records.map { r =>
      Json.obj("c" -> r.client.toString, "i" -> r.seq.toString, "k" -> Json.str(r.kind),
        "s" -> r.startNs.toString, "e" -> r.endNs.toString, "ok" -> r.ok.toString,
        "rows" -> r.rows.toString, "ib" -> r.inBytes.toString, "ob" -> r.outBytes.toString,
        "err" -> Json.str(r.err))
    }
    Map(
      "window_s" -> Json.num(windowS),
      "ops" -> Json.arr(ops),
      "checks" -> Json.arr(ctx.checks.asScala),
      "extra" -> Json.obj(ctx.extra.asScala.toSeq.sortBy(_._1): _*),
      "exec" -> execJson(after, before),
      "peak_rss_mb" -> Json.num(peakRssMb()))
  }

  private def execJson(a: ExecCounts, b: ExecCounts): String = Json.obj(
    "jobs" -> (a.jobs - b.jobs).toString,
    "stages" -> (a.stages - b.stages).toString,
    "tasks" -> (a.tasks - b.tasks).toString,
    "task_run_ms" -> (a.taskRunMs - b.taskRunMs).toString,
    "task_cpu_ms" -> ((a.taskCpuNs - b.taskCpuNs) / 1000000L).toString,
    "gc_ms" -> (a.gcMs - b.gcMs).toString,
    "input_bytes" -> (a.inputBytes - b.inputBytes).toString,
    "input_records" -> (a.inputRecords - b.inputRecords).toString,
    "output_bytes" -> (a.outputBytes - b.outputBytes).toString,
    "shuffle_write_bytes" -> (a.shuffleWriteBytes - b.shuffleWriteBytes).toString,
    "shuffle_read_bytes" -> (a.shuffleReadBytes - b.shuffleReadBytes).toString,
    "spill_bytes" -> (a.spillBytes - b.spillBytes).toString,
    "slot_wait_ms" -> (a.slotWaitMs - b.slotWaitMs).toString,
    "slot_wait_jobs" -> (a.slotWaitJobs - b.slotWaitJobs).toString)

  /** Run `wl.op` from `wl.clients` threads until `seconds` have passed;
    * an operation started before the deadline runs to completion. */
  def closedLoop(ctx: Ctx, wl: Workload, seconds: Double): (Seq[OpRecord], Double) = {
    val recs = new ConcurrentLinkedQueue[OpRecord]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val reqIds = new java.util.concurrent.atomic.AtomicLong(0)
    val threads = (0 until wl.clients).map { c =>
      clientThread(s"client-$c") {
        var i = 0
        while (System.nanoTime() < deadline) {
          val req = reqIds.incrementAndGet()
          val s = System.nanoTime()
          val r = try Right(wl.op(ctx, c, i, req)) catch { case e: Throwable => Left(e) }
          val e = System.nanoTime()
          r match {
            case Right(res) =>
              recs.add(OpRecord(c, i, res.kind, s, e, res.ok, res.rows, res.inBytes,
                res.outBytes, ""))
              res.check.foreach(ctx.checks.add)
            case Left(err) =>
              recs.add(OpRecord(c, i, "error", s, e, ok = false, 0L, 0L, 0L,
                s"${err.getClass.getSimpleName}: ${err.getMessage}".take(300)))
          }
          i += 1
        }
        graft.CacheScope.drain()
      }
    }
    threads.foreach(_.join())
    val all = recs.asScala.toSeq
    val end = if (all.isEmpty) System.nanoTime() else all.map(_.endNs).max
    (all.map(r => r.copy(startNs = r.startNs - t0, endNs = r.endNs - t0)), (end - t0) / 1e9)
  }

  /** Start a client thread that does NOT inherit the creating thread's
    * inheritable thread-locals: CacheScope's registry is one, and a
    * client sharing the main thread's registry would have its cached
    * intermediates drained by another client mid-query. */
  def clientThread(name: String)(body: => Unit): Thread = {
    val t = new Thread(null, () => body, name, 0L, false)
    t.start(); t
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

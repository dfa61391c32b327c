package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, count, lit, max}
import org.apache.spark.sql.types._

import graft.sources.Ingest
import graft.streaming.StreamingJobs

/** The migrate write path: one writer takes the generated exam-result
  * CSV batches in order. Each operation reads and validates one batch,
  * merges it into the bucketed latest-state mart, and then waits until
  * a `readMartLatest` aggregate sees the merged state (read-your-write).
  * After each batch, snapshots no manifest references are expired
  * (keeping the 2 newest), as a long-running migrate does. */
final class IngestMigrate extends Workload {
  val clients = 1
  private val nBuckets = 16
  val schema: StructType = new StructType()
    .add("exam_id", LongType).add("student_id", LongType)
    .add("asmt_id", IntegerType).add("school_year", IntegerType)
    .add("score", DoubleType).add("updated_at", LongType)
    .add("seq", LongType).add("deleted", BooleanType).add("batch", IntegerType)
  private var batches: IndexedSeq[String] = IndexedSeq.empty
  /** Generator-side replay per batch: live rows after it, its malformed
    * rows, its rows, the bytes of its valid CSV lines. */
  private var expected: IndexedSeq[(Long, Long, Long, Long)] = IndexedSeq.empty
  private var mart = ""
  private var tag = ""
  private val done = new java.util.concurrent.atomic.AtomicInteger(0)

  private def fs(ctx: Ctx, p: String) =
    new Path(p).getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)

  def setup(ctx: Ctx): Unit = start(ctx, "untraced")

  /** An empty mart under `name`, to replay the batches into from 0. */
  private def start(ctx: Ctx, name: String): Unit = {
    mart = s"${ctx.work}/mart_$name"
    done.set(0)
    fs(ctx, mart).delete(new Path(mart), true)
    tag = StreamingJobs.ensureRunTag(ctx.spark, s"${ctx.work}/checkpoint_$name")
    batches = fs(ctx, ctx.data).listStatus(new Path(s"${ctx.data}/batches"))
      .map(_.getPath.toString).filter(_.endsWith(".csv")).sorted.toIndexedSeq
    val src = scala.io.Source.fromFile(s"${ctx.data}/expected.tsv")
    try expected = src.getLines().map(_.split("\t").map(_.toLong))
      .map(a => (a(1), a(2), a(3), a(4))).toIndexedSeq
    finally src.close()
  }

  /** Three batches into a scratch mart, then dropped: batch latency
    * keeps falling over the first few batches of a fresh JVM. */
  def warmup(ctx: Ctx): Unit = {
    val root = s"${ctx.work}/mart_warmup"
    val warmTag = StreamingJobs.ensureRunTag(ctx.spark, s"${ctx.work}/checkpoint_warmup")
    (0 until 3).foreach(b => applyBatch(ctx, b, root, warmTag, 0L))
    fs(ctx, root).delete(new Path(root), true)
    ()
  }

  /** A fresh mart: the second window replays the batches from 0. */
  override def reset(ctx: Ctx): Unit = start(ctx, "traced")

  /** Read, validate and merge batch `b`; returns (rejected rows, live
    * rows the read-back saw). */
  private def applyBatch(ctx: Ctx, b: Int, root: String, runTag: String,
                         req: Long): (Long, Long) = {
    val raw = ctx.t("sources.read_validate", req) {
      Ingest.readCsv(ctx.spark, batches(b), schema)
    }
    try {
      val (valid, rejected) = ctx.t("sources.read_validate", req)(Ingest.validationSplit(raw))
      val nBad = ctx.t("sources.read_validate", req)(rejected.count())
      ctx.t("streaming.apply_batch", req) {
        StreamingJobs.applyMigrateBatch(valid, b.toLong, runTag, root,
          Seq("exam_id"), "updated_at", "seq", nBuckets)
      }
      val live = ctx.t("streaming.read_latest", req) {
        StreamingJobs.readMartLatest(ctx.spark, root)
          .map(_.agg(count(lit(1)), max(col("seq"))).head().getLong(0)).getOrElse(0L)
      }
      ctx.t("streaming.expire", req)(StreamingJobs.expireMartSnapshots(ctx.spark, root, 2))
      (nBad, live)
    } finally { raw.unpersist(); () }
  }

  def op(ctx: Ctx, client: Int, seq: Int, req: Long): OpResult = {
    require(seq < batches.size, s"only ${batches.size} generated batches")
    val (nBad, live) = applyBatch(ctx, seq, mart, tag, req)
    val (expLive, expBad, rows, validBytes) = expected(seq)
    // the batch's snapshot directory holds exactly the buckets it rewrote
    val snap = StreamingJobs.snapshotName(tag, seq.toLong)
    val (files, bytes) = ctx.dataFiles(s"$mart/$snap")
    if (ctx.tracer.enabled) {
      ctx.t("streaming.manifest", req) {
        StreamingJobs.readManifest(ctx.spark, mart).foreach { m =>
          ctx.addLayer("streaming.touched_buckets",
            m.buckets.values.count(_.startsWith(snap + "/")).toDouble)
        }
      }
      ctx.addLayer("streaming.files_written", files.toDouble)
      ctx.addLayer("streaming.bytes_written", bytes.toDouble)
      ctx.addLayer("sources.valid_rows", (rows - nBad).toDouble)
    }
    done.incrementAndGet()
    OpResult("batch", rows, ok = live == expLive && nBad == expBad,
      inBytes = validBytes, outBytes = bytes)
  }

  override def finish(ctx: Ctx): Unit = {
    val out = s"$mart-final"
    StreamingJobs.readMartLatest(ctx.spark, mart).foreach(
      _.select("exam_id", "seq").coalesce(1).write.mode("overwrite").csv(out))
    ctx.extra.put("final_mart_csv", Json.str(out))
    ctx.extra.put("mart_bytes", ctx.dataFiles(mart)._2.toString)
    ctx.extra.put("batches_done", done.get.toString)
  }

  /** `operators.merge_ms`: the latest-wins-with-tombstones merge of the
    * last applied batch into the final mart, run to a no-op sink. */
  override def probeLayers(ctx: Ctx): Unit = {
    val last = done.get - 1
    StreamingJobs.readMartLatest(ctx.spark, mart).filter(_ => last >= 0).foreach { cur =>
      val (valid, _) = Ingest.validationSplit(Ingest.readCsv(ctx.spark, batches(last), schema))
      val merged = graft.operators.Operators.migrateWithDeletes(
        cur.withColumn("deleted", lit(false)).drop("_b"), valid.drop("_b"), Seq(col("exam_id")),
        Seq(col("updated_at").desc, col("seq").desc))
      val t0 = System.nanoTime()
      ctx.t("operators.merge", 0L)(merged.write.format("noop").mode("overwrite").save())
      ctx.layer.put("operators.merge_ms", (System.nanoTime() - t0) / 1e6)
    }
  }
}

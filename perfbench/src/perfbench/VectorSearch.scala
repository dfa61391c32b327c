package perfbench

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.ReentrantReadWriteLock

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{GraphIndex, PqIndex, RangeIvfIndex}

/** Build once, probe many, maintain by delta. Set-up writes the three
  * persisted indexes over the generated embeddings. Four clients then
  * probe concurrently, client c always with probe kind c, each taking
  * its own seeded query sets in order. Some of client 0's operations
  * instead apply the next generated maintenance step (an append, then
  * a delete) to all three indexes and the live embeddings table,
  * under a write lock so that no probe reads a half-maintained index;
  * the maintenance version each probe saw is recorded for the
  * brute-force gate. The three indexes are independent, so set-up
  * builds and maintenance updates them concurrently, one driver
  * thread each. */
final class VectorSearch extends Workload {
  val clients = 4
  private val k = 10
  /** Client 0's second operation, and every 5th after it, is maintenance. */
  private val maintEvery = 5
  private val MaintSlot = 1
  private val kinds = IndexedSeq("topk_exact", "ivf_nearest", "pq_ivf", "graph_beam")
  private var root = ""
  private var queries: Map[Int, Seq[Row]] = Map.empty
  /** Maintenance steps: (ids to append, ids to delete). */
  private var maint: IndexedSeq[(Seq[Long], Seq[Long])] = IndexedSeq.empty
  private var appends: Map[Long, Row] = Map.empty
  private val lock = new ReentrantReadWriteLock()
  private val version = new AtomicInteger(0)
  /** Bytes of the generated vector set, which every operation addresses. */
  private var vectorBytes = 0L
  private val qSchema = new StructType().add("q_id", LongType)
    .add("q_vec", ArrayType(FloatType, containsNull = true))

  private def emb(ctx: Ctx): DataFrame = ctx.spark.read.parquet(s"$root/emb")

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    root = s"${ctx.work}/index"
    vectorBytes = new java.io.File(s"${ctx.data}/embeddings.parquet").length
    val base = s.read.parquet(s"${ctx.data}/embeddings.parquet")
    base.write.mode("overwrite").parquet(s"$root/emb")
    val n = Tables.parquetRowCount(s, s"$root/emb")
    val e = emb(ctx).select(col("vec_id"), col("embedding"))
    val t0 = System.nanoTime()
    concurrently(ctx)(
      () => RangeIvfIndex.write(s, e, n, s"$root/ivf"),
      () => PqIndex.write(s, e, n, s"$root/pq"),
      () => GraphIndex.write(s, e, n, s"$root/graph"))
    ctx.layer.put("operators.index_write_ms", (System.nanoTime() - t0) / 1e6)
    queries = s.read.parquet(s"${ctx.data}/queries.parquet").collect()
      .groupBy(_.getAs[Int]("q_set")).map { case (q, rs) => q -> rs.toSeq }
    appends = s.read.parquet(s"${ctx.data}/appends.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    val src = scala.io.Source.fromFile(s"${ctx.data}/maintenance.tsv")
    try maint = src.getLines().map(_.split("\t"))
      .map(a => (a(1).split(",").map(_.toLong).toSeq, a(2).split(",").map(_.toLong).toSeq))
      .toIndexedSeq
    finally src.close()
  }

  /** One probe of each kind on the first query set, each on its own
    * thread; not counted. */
  def warmup(ctx: Ctx): Unit =
    kinds.map { kind =>
      Main.clientThread(s"warmup-$kind") {
        probe(ctx, kind, 0, 0L)
        ctx.drain(0L)
      }
    }.foreach(_.join())

  private def queryFrame(ctx: Ctx, set: Int): DataFrame = {
    val rows = queries(set).map(r => Row(r.getAs[Long]("q_id"), r.getAs[Seq[Float]]("q_vec")))
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), qSchema)
  }

  private def probe(ctx: Ctx, kind: String, set: Int, req: Long): Array[Row] = {
    val s = ctx.spark
    val q = queryFrame(ctx, set)
    val df = ctx.t(s"operators.index_probe.$kind", req) {
      kind match {
        case "topk_exact" => RangeIvfIndex.topk(s, s"$root/ivf", q, k)
        case "ivf_nearest" => RangeIvfIndex.probeNearest(s, s"$root/ivf", q, k, nProbe = 4)
        case "pq_ivf" => PqIndex.probeIvf(s, s"$root/pq", emb(ctx), q, k)
        case "graph_beam" => GraphIndex.probeBeam(s, s"$root/graph", emb(ctx), q, k)
      }
    }
    ctx.t(s"operators.index_probe.$kind", req)(df.collect())
  }

  /** Maintenance step `m`: append its vectors to the live table and the
    * three indexes, then tombstone its deletes in all three. */
  private def maintain(ctx: Ctx, m: Int, req: Long): Unit = {
    val s = ctx.spark
    val (add, dead) = maint(m)
    import s.implicits._
    val rows = add.map(appends)
    val delta = s.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
      .select(col("vec_id"), col("embedding"), col("label"))
    delta.write.mode("append").parquet(s"$root/emb")
    val d = delta.select(col("vec_id"), col("embedding"))
    ctx.t("operators.index_append", req) {
      concurrently(ctx)(
        () => RangeIvfIndex.append(s, s"$root/ivf", d),
        () => PqIndex.append(s, s"$root/pq", d),
        () => GraphIndex.append(s, s"$root/graph", d))
    }
    val ids = dead.toDF("cand_id")
    ctx.t("operators.index_delete", req) {
      concurrently(ctx)(
        () => RangeIvfIndex.delete(s, s"$root/ivf", ids),
        () => PqIndex.delete(s, s"$root/pq", ids),
        () => GraphIndex.delete(s, s"$root/graph", ids))
    }
  }

  /** Run each step on its own driver thread, under the caller's open
    * span, draining what it cached there; rethrow the first failure. */
  private def concurrently(ctx: Ctx)(steps: (() => Unit)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val span = ctx.tracer.openSpan
    steps.zipWithIndex.map { case (f, i) =>
      Main.clientThread(s"index-$i") {
        ctx.tracer.adopt(span)
        try f() catch { case e: Throwable => errors.add(e) }
        finally graft.CacheScope.drain()
      }
    }.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  def op(ctx: Ctx, client: Int, seq: Int, req: Long): OpResult =
    if (client == 0 && seq % maintEvery == MaintSlot) {
      lock.writeLock().lock()
      try {
        val m = version.get()
        require(m < maint.size, s"only ${maint.size} generated maintenance steps")
        maintain(ctx, m, req)
        version.incrementAndGet()
        OpResult("maintenance", 0L, inBytes = vectorBytes)
      } finally lock.writeLock().unlock()
    } else {
      // client c probes with kind c, taking every clients-th query set
      val set = client + clients * seq
      require(queries.contains(set), s"query set $set was not generated")
      val kind = kinds(client)
      lock.readLock().lock()
      try {
        val v = version.get()
        val rows = probe(ctx, kind, set, req)
        ctx.drain(req)
        val byQ = rows.groupBy(_.getAs[Long]("q_id")).toSeq.sortBy(_._1).map { case (q, rs) =>
          Json.obj("q" -> q.toString, "ids" -> Json.arr(
            rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("cand_id").toString)))
        }
        val check = Json.obj("kind" -> Json.str(kind), "set" -> set.toString,
          "version" -> v.toString, "results" -> Json.arr(byQ))
        // rows: the query vectors answered
        OpResult(kind, queries(set).size.toLong, Some(check), inBytes = vectorBytes)
      } finally lock.readLock().unlock()
    }

  override def finish(ctx: Ctx): Unit = {
    ctx.extra.put("maintenance_done", version.get().toString)
    ctx.extra.put("index_bytes", Seq("emb", "ivf", "pq", "graph")
      .map(d => ctx.dataFiles(s"$root/$d")._2).sum.toString)
  }

  /** Native expression throughput over (live vector × query) pairs,
    * and `operators.cc_ms`: connected components of the graph index's
    * edge list, the check that every node stays reachable. */
  override def probeLayers(ctx: Ctx): Unit = {
    val s = ctx.spark
    val qs = (0 until 16).flatMap(queries).map(r => Row(r.getAs[Long]("q_id"), r.getAs[Seq[Float]]("q_vec")))
    val pairs = emb(ctx).select(col("vec_id"), col("embedding"))
      .crossJoin(s.createDataFrame(java.util.Arrays.asList(qs: _*), qSchema))
      .persist()
    val n = pairs.count()
    val cents = s.read.parquet(s"$root/ivf/cells").select(col("cluster"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).map(_._2.toArray)
    def rate(name: String, c: org.apache.spark.sql.Column): Unit = {
      val reps = 3
      val t0 = System.nanoTime()
      ctx.t(s"functions.$name", 0L) {
        (1 to reps).foreach(_ => pairs.select(c.as("x")).write.format("noop").mode("overwrite").save())
      }
      ctx.layer.put(s"functions.${name}_rows_per_s", reps * n / ((System.nanoTime() - t0) / 1e9))
    }
    rate("cosine", graft.functions.VectorFunctions.cosine(col("embedding"), col("q_vec")))
    rate("nearest_clusters", graft.functions.GraftColumns.nearestClusters(col("q_vec"), cents, 4))
    pairs.unpersist()
    val edges = s.read.parquet(s"$root/graph/edges").select(col("a_id"), col("b_id"))
    val t0 = System.nanoTime()
    ctx.t("operators.cc", 0L) {
      graft.operators.Operators.connectedComponents(edges, "a_id", "b_id")
        .write.format("noop").mode("overwrite").save()
    }
    ctx.layer.put("operators.cc_ms", (System.nanoTime() - t0) / 1e6)
    ctx.drain(0L)
  }
}

package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

import graft.{SparkEntry, Tables}

/** Interactive reporting traffic: `clients` threads share one session
  * and issue the seeded request lists from `requests.tsv` — each a
  * registered `SparkEntry.queries` template with a parameter
  * predicate on top, collected as the client's response. */
final class ReportMix extends Workload {
  val clients = 4
  private val tables = Seq("region", "nation", "customer", "orders", "lineitem")
  private val tablesOf = Map(
    "q17_running_total" -> Seq("orders"),
    "q19_topk_per_group" -> Seq("orders"),
    "q14_semi_join" -> Seq("customer", "orders"),
    "q15_anti_join" -> Seq("customer", "orders"),
    "q03_star_join" -> Seq("lineitem", "orders", "customer", "nation", "region"),
    "q09_rollup" -> Seq("customer", "nation", "region"),
    "q13_conditional_rates" -> Seq("lineitem"),
    "q12_distinct_count" -> Seq("orders", "customer", "nation"),
    "q31_norms_lookup" -> Seq("orders"),
    "q07_longitudinal" -> Seq("orders", "customer", "nation"))
  /** Requests per client: (kind, template, predicate). */
  private var requests: Map[Int, IndexedSeq[(String, String, String)]] = Map.empty
  private var rowCount: Map[String, Long] = Map.empty
  private var fileBytes: Map[String, Long] = Map.empty
  private val audited = new java.util.concurrent.ConcurrentHashMap[String, graft.plans.PlanAudit]
  /** Every 3rd request of a client is replayed by the gate, up to 6. */
  private val checkEvery = 3
  private val checkCap = 6

  def setup(ctx: Ctx): Unit = {
    tables.foreach(t => Tables.load(ctx.spark, ctx.data, t).createOrReplaceTempView(t))
    rowCount = tables.map(t => t -> Tables.parquetRowCount(ctx.spark, s"${ctx.data}/$t.parquet")).toMap
    fileBytes = tables.map(t => t -> new java.io.File(s"${ctx.data}/$t.parquet").length).toMap
    val src = scala.io.Source.fromFile(s"${ctx.data}/requests.tsv")
    try requests = src.getLines().map(_.split("\t", 5)).toSeq
      .groupBy(_(0).toInt)
      .map { case (c, rs) => c -> rs.sortBy(_(1).toInt).map(r => (r(2), r(3), r(4))).toIndexedSeq }
    finally src.close()
  }

  /** One request of each template, spread over the clients; not counted. */
  def warmup(ctx: Ctx): Unit = {
    val firsts = requests(0).groupBy(_._2).values.map(_.head).toSeq.sortBy(_._2)
    (0 until clients).map { c =>
      Main.clientThread(s"warmup-$c") {
        firsts.indices.filter(_ % clients == c).foreach { i =>
          val (_, tpl, pred) = firsts(i)
          SparkEntry.queries(tpl)(ctx.spark, ctx.data).filter(expr(pred)).collect()
        }
        ctx.drain(0L)
      }
    }.foreach(_.join())
  }

  def op(ctx: Ctx, client: Int, seq: Int, req: Long): OpResult = {
    val rs = requests(client)
    val (kind, tpl, pred) = rs(seq % rs.size)
    val df: DataFrame = ctx.t("queries.build", req) {
      SparkEntry.queries(tpl)(ctx.spark, ctx.data).filter(expr(pred))
    }
    if (ctx.tracer.enabled) ctx.t("plans.plan", req)(df.queryExecution.executedPlan)
    val rows = ctx.t("queries.exec", req)(df.collect())
    ctx.drain(req)
    if (ctx.tracer.enabled) {
      ctx.addLayer("rows_out", rows.length)
      if (!audited.containsKey(tpl)) audited.putIfAbsent(tpl, graft.plans.PlanAudit.of(df))
    }
    val check =
      if (seq % checkEvery == 0 && seq / checkEvery < checkCap)
        Some(Json.obj(
          "template" -> Json.str(tpl), "pred" -> Json.str(pred),
          "cols" -> Json.arr(df.columns.map(Json.str)),
          "rows" -> Json.arr(rows.map(r => Json.arr(r.toSeq.map(Json.value))))))
      else None
    OpResult(kind, tablesOf(tpl).map(rowCount).sum, check,
      inBytes = tablesOf(tpl).map(fileBytes).sum)
  }

  override def finish(ctx: Ctx): Unit = {
    val tpls = requests.values.flatten.map(_._2).toSeq.distinct.sorted
    ctx.extra.put("oracle", Json.obj(tpls.map(t => t -> Json.str(SparkEntry.oracleSql(t))): _*))
  }

  override def probeLayers(ctx: Ctx): Unit = {
    import scala.jdk.CollectionConverters._
    val as = audited.values.asScala.toSeq
    if (as.nonEmpty) {
      ctx.layer.put("plans.exchanges", as.map(_.exchanges).sum.toDouble / as.size)
      ctx.layer.put("plans.broadcast_joins", as.map(_.broadcastHashJoins).sum.toDouble / as.size)
      ctx.layer.put("plans.smj_joins", as.map(_.sortMergeJoins).sum.toDouble / as.size)
    }
    TableProbe.measure(ctx, tables)
    // operators.topk_ms: the top-k-per-group operator behind the
    // student_top_results template, over the whole orders table
    val orders = Tables.orders(ctx.spark, ctx.data)
    val t0 = System.nanoTime()
    ctx.t("operators.topk", 0L) {
      graft.operators.Operators.topKPerGroup(orders, Seq(orders("o_custkey")),
        Seq(orders("o_totalprice").desc, orders("o_orderkey")), 3)
        .write.format("noop").mode("overwrite").save()
    }
    ctx.layer.put("operators.topk_ms", (System.nanoTime() - t0) / 1e6)
  }
}

/** `tables.load_ms` / `tables.footer_ms`: the cost of the loaders every
  * query function calls, timed outside the measured window. */
object TableProbe {
  def measure(ctx: Ctx, tables: Seq[String], reps: Int = 5): Unit = {
    val loads = for (_ <- 1 to reps; t <- tables) yield {
      val t0 = System.nanoTime()
      ctx.t("tables.load", 0L)(Tables.load(ctx.spark, ctx.data, t))
      (System.nanoTime() - t0) / 1e6
    }
    val footers = for (_ <- 1 to reps; t <- tables) yield {
      val t0 = System.nanoTime()
      ctx.t("tables.footer", 0L)(Tables.parquetRowCount(ctx.spark, s"${ctx.data}/$t.parquet"))
      (System.nanoTime() - t0) / 1e6
    }
    ctx.layer.put("tables.load_ms", loads.sum / loads.size)
    ctx.layer.put("tables.footer_ms", footers.sum / footers.size)
  }
}

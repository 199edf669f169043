package perfbench

import java.io.File
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Warehouse

/** Registry queries as timed operations: `q.fn` then the noop sink,
  * which materializes every output column through the full plan. The
  * warm-up runs each query once into parquet under `out/` instead,
  * next to its DuckDB oracle SQL, so `run.py` can check the outputs
  * after the JVM has exited.
  */
final class RegistryOps(spark: SparkSession, work: File, sfDir: String,
    names: Seq[String]) {
  val qs: Seq[graft.Q] = names.map(n => graft.Registry.all.find(_.name == n)
    .getOrElse(sys.error(s"no registered query $n")))
  private val out = new File(work, "out")
  var tracer: Option[Trace] = None

  def op(q: graft.Q): Main.Op = Main.Op(q.name, () => {
    val df = tracer.fold(q.fn(spark, sfDir))(_.construct(q.fn(spark, sfDir)))
    df.write.format("noop").mode("overwrite").save()
  })

  /** One call of each query, its output kept for the oracle check. */
  def warmUpAndKeep(): Unit = {
    out.mkdirs()
    qs.foreach { q =>
      try q.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(new File(out, q.name).getPath)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] warm-up ${q.name} failed: $e")
      }
      Main.mark(s"warm-up ${q.name}")
    }
    val sql = qs.flatMap(q => q.oracle.map(q.name -> Json.str(_)))
    java.nio.file.Files.writeString(new File(out, "oracle_sql.json").toPath,
      Json.obj(sql))
  }

  /** `tables.resolve_ms`: one `Tables.apply` per base table, timed. */
  def traceTables(res: Main.Result): Unit =
    res.put("tables.resolve_ms", Main.median(graft.sources.Tables.names.map(t =>
      Main.medianMs(3)(graft.sources.Tables(spark, sfDir, t)))), "ms")
}

/** `star_reads`: short reads — registry queries of the reference's
  * star-schema surface and the event analytics, plus the dashboard
  * questions asked through `Warehouse.catRead` of the Bikes warehouse
  * that `Dashboard.build` made with `Pipeline.runDailyCat`.
  */
final class StarReads(spark: SparkSession, work: File, sfDir: String,
    seed: Long) extends Workload {
  import StarReads._
  private val reg = new RegistryOps(spark, work, sfDir, registry)
  private val wh = Warehouse(Dashboard.root)
  private val answers = scala.collection.mutable.Map.empty[String, Seq[Row]]
  private var exp: BikesGen.Expectation = _

  private def t(n: String) = wh.catRead(spark, n)
  private def salesByCategory(period: org.apache.spark.sql.Column) =
    t("dw_ordr_dtl_fct")
      .join(t("dw_prdct_dim").select("Prdct_ID", "Prdct_Ctgry_Nm"), "Prdct_ID")
      .join(t("dw_act_perd_dim"), col("Ordr_Dt") === col("date_val"))
      .groupBy(col("Prdct_Ctgry_Nm"), period.as("period"))
      .agg(sum("Sale_Amt"), sum("Sale_Qty"))
  private val dashboard: Seq[(String, () => Seq[Row])] = Seq(
    "dash_sales_by_category_year" -> (() =>
      salesByCategory(col("year_num").cast("string")).collect().toSeq),
    "dash_sales_by_category_quarter" -> (() =>
      salesByCategory(concat_ws(" ", col("year_num").cast("string"),
        col("quarter_label"))).collect().toSeq),
    "dash_sales_by_category_month" -> (() =>
      salesByCategory(col("year_month").cast("string")).collect().toSeq),
    "dash_sales_by_partner" -> (() => t("dw_ordr_dtl_fct")
      .join(t("dw_prdct_dim").select("Prdct_ID", "Prtnr_Nm"), "Prdct_ID")
      .groupBy("Prtnr_Nm").agg(sum("Sale_Amt")).collect().toSeq),
    "dash_order_count" -> (() => Seq(Row(t("dw_ordr_sm_fct").count()))),
    "dash_product_count" -> (() => Seq(Row(t("dw_prdct_dim").count()))),
    "dash_avg_rating" -> (() =>
      t("dw_ordr_sm_fct").agg(avg("Avg_Rtng")).collect().toSeq))

  private val each = reg.qs.map(reg.op) ++ dashboard.map { case (n, f) =>
    Main.Op(n, () => answers(n) = f()) }
  /** One round asks every question once, in an order drawn from the
    * seed and the round number.
    */
  def round(i: Int): IndexedSeq[Main.Op] = Main.permute(each, seed + i)

  def setup(res: Main.Result): Unit = {
    exp = Dashboard.expectation(new File(work, "dash-in"))
    Main.mark("dashboard expectations")
    reg.warmUpAndKeep()
    Main.mark("registry warm-up")
    dashboard.foreach { case (n, f) => answers(n) = f() }
    Main.mark("dashboard warm-up")
    checkAnswers(res, "warm-up")
  }

  private def checkAnswers(res: Main.Result, when: String): Unit = {
    def sales(n: String) = answers(n).map(r =>
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    res.check(sales("dash_sales_by_category_year") == exp.salesByYear,
      s"$when: sales by category and year differ from the generator's")
    res.check(sales("dash_sales_by_category_quarter") == exp.salesByQuarter,
      s"$when: sales by category and quarter differ from the generator's")
    res.check(sales("dash_sales_by_category_month") == exp.salesByMonth,
      s"$when: sales by category and month differ from the generator's")
    res.check(answers("dash_sales_by_partner").map(r =>
      r.getString(0) -> r.getLong(1)).toMap == exp.salesByPartner,
      s"$when: sales by partner differ from the generator's")
    res.check(answers("dash_order_count").head.getLong(0) == exp.orders,
      s"$when: order count ${answers("dash_order_count")} != ${exp.orders}")
    res.check(answers("dash_product_count").head.getLong(0) == exp.currentPrice.size,
      s"$when: product count ${answers("dash_product_count")}")
    val rating = answers("dash_avg_rating").head.getDouble(0)
    res.check(math.abs(rating - exp.avgRating) <= 1e-9 * exp.avgRating,
      s"$when: average rating $rating != ${exp.avgRating}")
  }

  def check(res: Main.Result): Unit = checkAnswers(res, "timed")

  def traceAfter(t: Trace, res: Main.Result): Unit = {
    reg.traceTables(res)
    res.put("warehouse.read_ms", Main.medianMs(5)(
      tables.foreach(tb => wh.catRead(spark, tb))) / tables.size, "ms")
    res.put("warehouse.stored_mb",
      FileTree.sizes(new File(wh.root)).values.sum / 1048576.0, "MB")
    // the shared text artifacts no question reads: their build cost,
    // in a warm session
    val a = System.nanoTime()
    graft.queries.TextQueries.prewarm(spark, sfDir)
    graft.queries.Extras.prewarm(spark, sfDir)
    res.put("materialized.prewarm_s", (System.nanoTime() - a) / 1e9, "s")
  }

  override def setTracer(t: Option[Trace]): Unit = reg.tracer = t
}

/** The Bikes warehouse the dashboard questions read, made the way the
  * ETL makes it: `Pipeline.runDailyCat` over the day generator's
  * extracts. The first load carries all days but the last three; each
  * of those then gets its own refresh, so the two CDC facts are a
  * REPLACE followed by three appended waves, as the daily cadence
  * leaves them.
  *
  * The build makes it once, in its training run, and each `star_reads`
  * run reads a copy of it: a cold refresh costs ~15 s, more than the
  * rest of the workload's set-up. The root is relative, so the commit
  * logs name their files relative to the JVM's working directory, and
  * a copy placed in another run's working directory reads as the
  * original.
  */
object Dashboard {
  val root = "dash-wh"
  val seed = 20190101L
  val days = 120
  val loads: Seq[Seq[Int]] =
    (0 until days - 3) +: (days - 3 until days).map(Seq(_))

  private def generator() = new BikesGen(seed, ordersPerDay = 40)

  /** Write each load's extracts under `dir` (`load-<n>`); returns them. */
  private def extracts(gen: BikesGen, dir: File): Seq[(File, String)] =
    loads.zipWithIndex.map { case (ds, n) =>
      val d = new File(dir, s"load-$n")
      gen.writeExtract(d, ds.map(i => gen.firstDay.plusDays(i.toLong)))
      d -> gen.firstDay.plusDays(ds.last.toLong).toString
    }

  /** What the warehouse holds, from the generator alone (it replays the
    * same extracts under `dir`, because it generates rows as it writes).
    */
  def expectation(dir: File): BikesGen.Expectation = {
    val gen = generator()
    extracts(gen, dir)
    gen.expectation(loads.size)
  }

  /** Build the warehouse under `root` in the working directory and
    * check it as `daily_refresh` checks its own.
    */
  def build(spark: SparkSession, work: File, res: Main.Result): Unit = {
    val gen = generator()
    val wh = Warehouse(root)
    extracts(gen, new File(work, "dash-in")).foreach { case (d, asOf) =>
      graft.etl.Pipeline.runDailyCat(spark, wh, DailyRefresh.inputs(spark, d), asOf)
      Main.mark(s"dashboard refresh as of $asOf")
    }
    res.check(wh.catHead == loads.size,
      s"dashboard catalog head ${wh.catHead} after ${loads.size} refreshes")
    WarehouseChecks.facts(spark, wh, gen.expectation(loads.size), res)
  }
}

object StarReads {
  /** The DW tables the dashboard reads. */
  val tables: Seq[String] = Seq("dw_ordr_dtl_fct", "dw_ordr_sm_fct",
    "dw_prdct_dim", "dw_act_perd_dim")
  /** Registry queries: joins, aggregates, windows, SCD/CDC operators of
    * the reference's star schema (Parity) and the event analytics
    * (Events), each well under a second warm.
    */
  val registry: Seq[String] = Seq(
    "q08_star_join_agg", "q09_cdc_anti_join", "q17_scd1_merge",
    "q23_sessionize", "q42_asof_join", "q58_funnel")
}

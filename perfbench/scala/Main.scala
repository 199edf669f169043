package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Warehouse

/** One benchmark run inside one JVM: set up a workload, time it in a
  * closed loop with one client (an operation starts only after the
  * previous one returned), check its outputs, and print one line
  * `PERFBENCH {json}` for `run.py`.
  *
  * Arguments: workload seed seconds trace workDir sfDir.
  */
object Main {

  /** One timed operation: a name and the call that performs it. */
  final case class Op(name: String, run: () => Unit)

  final class Result {
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    val timedCount = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, sfDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors).max(1)
    val work = new File(workDir)
    val spark = Session.session(cores, work)
    val tracer = if (trace) Some(new Trace(spark, cores)) else None
    val res = new Result
    def make(name: String, dir: File): Workload = name match {
      case "daily_refresh" => new DailyRefresh(spark, dir, seed)
      case "star_reads" => new StarReads(spark, dir, sfDir, seed)
      case other => sys.error(s"unknown workload $other")
    }
    if (workload == "train") {
      // the build's training run: it builds the dashboard warehouse
      // `star_reads` reads, and its set-ups load the classes the timed
      // phase uses (CSV and parquet I/O, the CAS warehouse, SCD and CDC
      // plans, registry plans, the listeners) for the class-data archive
      new Trace(spark, cores)
      Dashboard.build(spark, work, res)
      Seq("daily_refresh", "star_reads").foreach(w =>
        make(w, new File(work, w)).setup(res))
      spark.stop()
      if (res.problems.nonEmpty) {
        res.problems.foreach(p => System.err.println(s"[perfbench] $p"))
        sys.exit(1)
      }
      return
    }
    val wl = make(workload, work)
    wl.setTracer(tracer)
    Main.mark("session")
    wl.setup(res)
    timed(spark, wl, seconds, tracer, res)
    wl.check(res)
    tracer.foreach(t => wl.traceAfter(t, res))
    println("PERFBENCH " + Json.obj(Seq(
      "attempted" -> res.attempted.toString,
      "timed_count" -> Json.obj(res.timedCount.toSeq.map { case (k, v) => k -> v.toString }),
      "errors" -> Json.obj(res.errors.toSeq.map { case (k, v) => k -> v.toString }),
      "problems" -> Json.arr(res.problems.toSeq.map(Json.str)),
      "metrics" -> Json.obj(res.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    wl.close()
    graft.Materialized.clear(spark)
    spark.stop()
  }

  private def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** The timed phase: whole rounds of the workload's operations until
    * `seconds` of timed wall have passed, so every run attempts the same
    * mix. Before each round, with the clock stopped, the workload makes
    * the round's inputs; after it, also outside the clock, full
    * collections measure the heap the workload keeps live.
    *
    * `heap_peak_mb` is the largest of those readings. It leaves out the
    * working set of an operation in flight. The heap in use after the
    * young collections inside a round (from the collectors'
    * notifications) would count it, but it read 280–940 MB over ten runs
    * of one commit: what a young collection leaves includes the garbage
    * earlier ones promoted to the old generation, which only a marking
    * cycle or a full collection frees. Raw heap occupancy adds how full
    * the adaptively sized young generation happened to be.
    */
  private def timed(spark: SparkSession, wl: Workload, seconds: Double,
      tracer: Option[Trace], res: Result): Unit = {
    val jvm = ManagementFactory.getRuntimeMXBean
    val jitSetup = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    tracer.foreach(_.begin())
    var gcMs = 0L
    var heapPeak = 0L
    var wall = 0.0
    var round = 0
    res.put("setup_s", (System.currentTimeMillis() - jvm.getStartTime) / 1e3, "s")
    val secs = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (wall < seconds) {
      wl.beforeRound(round)
      val ops = wl.round(round)
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      ops.foreach { op =>
        val a = System.nanoTime()
        tracer.foreach(_.opStart(op.name))
        try op.run()
        catch { case scala.util.control.NonFatal(e) =>
          res.errors(op.name) = res.errors.getOrElse(op.name, 0L) + 1
          System.err.println(s"[perfbench] ${op.name} failed: $e")
        }
        tracer.foreach(_.opEnd(op.name))
        secs += (System.nanoTime() - a) / 1e9
        res.timedCount(op.name) = res.timedCount.getOrElse(op.name, 0L) + 1
        System.err.println(f"[perfbench] timed ${op.name} ${secs.last}%.3f s")
      }
      wall += (System.nanoTime() - t0) / 1e9
      gcMs += gcMillis() - gc0
      heapPeak = math.max(heapPeak, liveHeap())
      round += 1
    }
    res.attempted = secs.size.toLong
    res.put("ops_per_s", secs.size / wall, "1/s")
    res.put("op_s.p50", median(secs.toSeq), "s")
    res.put("heap_peak_mb", heapPeak / 1048576.0, "MB")
    res.put("trace.timed_wall_s", wall, "s")
    tracer.foreach { t =>
      t.end(wall, secs.size, res)
      res.put("jvm.gc_s", gcMs / 1e3 / secs.size, "s")
      res.put("jvm.jit_s", jitSetup / 1e3, "s")
    }
  }

  /** Heap in use after full collections: the least of three, taken
    * 200 ms apart, so that Spark's cleaner thread has released the
    * broadcast and shuffle state an earlier collection found
    * unreachable.
    */
  private def liveHeap(): Long =
    (1 to 3).map { i =>
      if (i > 1) Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getUsage.getUsed).sum
    }.min

  /** Log a set-up step with its time since JVM start (to the JVM log). */
  def mark(step: String): Unit = System.err.println(f"[perfbench] $step at ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2f s")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Seeded permutation: the same seed gives the same operation order. */
  def permute[T](xs: Seq[T], seed: Long): IndexedSeq[T] = {
    val r = new java.util.SplittableRandom(seed)
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** Median wall milliseconds of `reps` calls of `f`. */
  def medianMs(reps: Int)(f: => Unit): Double =
    median((1 to reps).map { _ =>
      val a = System.nanoTime(); f; (System.nanoTime() - a) / 1e6
    })
}

/** The session every workload runs in: the engine settings of
  * `graft.Bench` (adaptive execution pinned by `SessionTuning.withAqe`,
  * shuffle partitions = cores), with all scratch and catalog state
  * kept under the run's work directory.
  */
object Session {
  def session(cores: Int, work: File): SparkSession = {
    val s = graft.SessionTuning.withAqe(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** A workload: set-up (inputs and warm-up), the inputs and the
  * operations of each round, output checks, and the per-layer
  * measurements that are taken directly rather than from the listeners.
  * Every round holds the same operations.
  */
trait Workload {
  def setup(res: Main.Result): Unit
  /** Make round `i`'s inputs; runs outside the timed wall. */
  def beforeRound(i: Int): Unit = ()
  def round(i: Int): IndexedSeq[Main.Op]
  def check(res: Main.Result): Unit
  def traceAfter(t: Trace, res: Main.Result): Unit
  def setTracer(t: Option[Trace]): Unit = ()
  def close(): Unit = ()
}

/** `daily_refresh`: each operation is one `Pipeline.runDailyCat` call
  * for the next day, into one warehouse that persists across the run.
  */
final class DailyRefresh(spark: SparkSession, work: File, seed: Long)
    extends Workload {
  import DailyRefresh._
  private val gen = new BikesGen(seed)
  private val wh = Warehouse(new File(work, "wh").getAbsolutePath)
  private val inDir = new File(work, "in")
  private var day = 0 // days refreshed
  private var written = 0 // days whose extracts are written
  private var walkBefore: Map[String, Long] = Map.empty

  def setup(res: Main.Result): Unit = {
    (1 to warmupDays).foreach { _ =>
      writeDay(); Main.mark("extract")
      refresh(); Main.mark("warm-up refresh")
    }
    walkBefore = FileTree.sizes(new File(wh.root))
  }

  private def dayDir(d: Int) = new File(inDir, f"day-$d%03d")

  /** The next day's nine extracts, generated when the day comes, so a
    * run can refresh as many days as its time allows.
    */
  private def writeDay(): Unit = {
    gen.writeExtract(dayDir(written), Seq(gen.firstDay.plusDays(written.toLong)))
    written += 1
  }

  private def refresh(): Unit = {
    graft.etl.Pipeline.runDailyCat(spark, wh, inputs(spark, dayDir(day)),
      gen.firstDay.plusDays(day.toLong).toString)
    day += 1
  }

  /** One round is `roundDays` refreshes, one per day. */
  def round(i: Int): IndexedSeq[Main.Op] =
    IndexedSeq.fill(roundDays)(Main.Op("refresh", () => refresh()))

  override def beforeRound(i: Int): Unit =
    (0 until roundDays).foreach(_ => writeDay())

  def check(res: Main.Result): Unit = {
    val exp = gen.expectation(day)
    res.check(wh.catHead == day,
      s"catalog head ${wh.catHead} after $day refreshes (one commit each)")
    WarehouseChecks.facts(spark, wh, exp, res)
  }

  def traceAfter(t: Trace, res: Main.Result): Unit = {
    val after = FileTree.sizes(new File(wh.root))
    val fresh = after.keySet -- walkBefore.keySet
    val n = res.timedCount.getOrElse("refresh", 1L).toDouble
    res.put("warehouse.written_mb", fresh.toSeq.map(after).sum / 1048576.0 / n, "MB")
    res.put("warehouse.files_written", fresh.size / n, "count")
    res.put("warehouse.stored_mb", after.values.sum / 1048576.0, "MB")
    res.put("warehouse.read_ms", Main.medianMs(5)(
      graft.etl.Pipeline.dwTables.foreach(tb => wh.catRead(spark, tb))) /
      graft.etl.Pipeline.dwTables.size, "ms")
  }
}

object DailyRefresh {
  /** Refreshes before timing: the first pays class loading, and the
    * second is still ~12% slower than the next few while the JIT works.
    */
  val warmupDays = 2
  /** Refreshes per round: at the run length of `BENCHMARK.json` a run
    * times one round, so its median is always over the same refreshes.
    */
  val roundDays = 2

  /** The nine extracts under `d`, read with the explicit source schemas. */
  def inputs(spark: SparkSession, d: File): graft.etl.Pipeline.Inputs = {
    def read(f: String, s: org.apache.spark.sql.types.StructType) =
      graft.sources.Csv.read(spark, new File(d, f).getPath, s)
    import graft.etl.Schemas
    graft.etl.Pipeline.Inputs(
      customer = read("Customer.csv", Schemas.customer),
      address = read("Address.csv", Schemas.address),
      businessPartner = read("BusinessPartner.csv", Schemas.businessPartner),
      productCategory = read("ProductCategory.csv", Schemas.productCategory),
      product = read("Product.csv", Schemas.product),
      productDetail = read("ProductDetail.csv", Schemas.productDetail),
      store = read("Store.csv", Schemas.store),
      salesOrder = read("SalesOrder.csv", Schemas.salesOrder),
      salesOrderItems = read("SalesOrderItems.csv", Schemas.salesOrderItems))
  }
}

/** Plain-file helpers for the file-system deltas. */
object FileTree {
  /** Every regular file under `root` with its size. */
  def sizes(root: File): Map[String, Long] =
    if (!root.exists) Map.empty
    else {
      val s = java.nio.file.Files.walk(root.toPath)
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> p.toFile.length).toMap
      finally s.close()
    }
}

/** Checks of a refreshed warehouse against the generator's expectations
  * and against properties the refresh method must have.
  */
object WarehouseChecks {
  def facts(spark: SparkSession, wh: Warehouse, exp: BikesGen.Expectation,
      res: Main.Result): Unit = {
    def t(n: String) = wh.catRead(spark, n)
    def longs(df: DataFrame, cols: String*): Seq[Long] = {
      val r = df.agg(count(lit(1)), cols.map(c => sum(col(c))): _*).head()
      (0 to cols.size).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
    }
    val sm = longs(t("dw_ordr_sm_fct"), "Ordr_Amt", "Itm_Cnt")
    res.check(sm == Seq(exp.orders, exp.saleAmt, exp.items),
      s"dw_ordr_sm_fct rows/Ordr_Amt/Itm_Cnt $sm, expected " +
        s"${Seq(exp.orders, exp.saleAmt, exp.items)}")
    val dtl = longs(t("dw_ordr_dtl_fct"), "Sale_Amt", "Sale_Qty")
    res.check(dtl == Seq(exp.items, exp.saleAmt, exp.saleQty),
      s"dw_ordr_dtl_fct rows/Sale_Amt/Sale_Qty $dtl, expected " +
        s"${Seq(exp.items, exp.saleAmt, exp.saleQty)}")
    val psm = longs(t("dw_prdct_sm_fct"), "Sale_Amt", "Sale_Qty")
    res.check(psm == Seq(exp.productDays, exp.saleAmt, exp.saleQty),
      s"dw_prdct_sm_fct rows/Sale_Amt/Sale_Qty $psm, expected " +
        s"${Seq(exp.productDays, exp.saleAmt, exp.saleQty)}")
    // grain keys of the two CDC facts are never duplicated
    val dupSm = t("dw_ordr_sm_fct").groupBy("Ordr_ID").count()
      .filter(col("count") > 1).count()
    val dupDtl = t("dw_ordr_dtl_fct").groupBy("Ordr_ID", "Prdct_ID").count()
      .filter(col("count") > 1).count()
    res.check(dupSm == 0 && dupDtl == 0,
      s"duplicate CDC grain keys: $dupSm in dw_ordr_sm_fct, $dupDtl in dw_ordr_dtl_fct")
    // SCD2: exactly one current version per product, the latest price
    val hist = t("ods_product_hist")
    res.check(hist.count() == exp.productVersions,
      s"ods_product_hist has ${hist.count()} versions, expected ${exp.productVersions}")
    val cur = hist.filter(col("current_flag") === 1)
      .select("PRODUCTID", "PRICE").collect()
    val curIds = cur.map(_.getString(0))
    res.check(curIds.length == exp.currentPrice.size &&
      curIds.distinct.length == curIds.length,
      s"ods_product_hist: ${curIds.length} current rows for " +
        s"${curIds.distinct.length} products, expected one for each of ${exp.currentPrice.size}")
    val priceBad = cur.count(r => !exp.currentPrice.get(r.getString(0)).contains(r.getLong(1)))
    res.check(priceBad == 0, s"ods_product_hist: $priceBad current prices differ")
    // SCD1: current customer attributes
    val cust = t("dw_cust_dim").select("Cust_ID", "Cust_Fst_Nm",
      "Cust_Lst_Nm", "Gndr", "Brth_Dt", "Age", "Age_Rng").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getString(3), r.getDate(4).toLocalDate, r.getLong(5),
        Option(r.getString(6)))).toMap
    val custBad = exp.customers.count { case (id, v) => !cust.get(id).contains(v) }
    res.check(cust.size == exp.customers.size && custBad == 0,
      s"dw_cust_dim: ${cust.size} rows, $custBad differ from the expected ${exp.customers.size}")
    res.check(t("dw_prdct_dim").count() == exp.currentPrice.size,
      "dw_prdct_dim does not hold one row per product")
  }
}

/** Minimal JSON writer (the result line is flat and ASCII). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

package graft

import org.apache.spark.GraftTestBus
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.util.QueryExecutionListener
import graft.etl.{BikesPipeline, Pipeline}
import graft.ops.{Calendar, Derive, Scd}
import graft.sources.Warehouse

/** A warm refresh compiles nothing new: the session builders size the
  * codegen class cache, the as-of day stays out of the generated code,
  * and no ODS publication's plan depends on the day's input sizes, so
  * a plan built for tomorrow compiles to today's classes.
  */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  private val dir =
    java.nio.file.Files.createTempDirectory("codegen-reuse-").toString

  // parquet-backed inputs: a local relation would let the optimizer
  // evaluate the projections eagerly and leave no generated code
  private def parquet(df: DataFrame, name: String): DataFrame = {
    val p = s"$dir/$name"
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private lazy val rawCustomer = parquet(Seq(
    (1L, "Ann", "Lee", "F", "15-06-1994"),  // 30 on 2024-06-15
    (2L, "Bo", "Kim", "M", "16-06-1994"),   // 29: birthday tomorrow
    (3L, "Cy", "Ng", "M", "14-06-1954"),    // 70 → '60-69'
    (4L, "Di", "Ho", "F", "01-01-2010"))    // 14 → no range
    .toDF("customer_id", "first_name", "last_name", "gender", "DOB"),
    "customer")
  private lazy val orders = parquet(Seq(
    (100L, java.sql.Date.valueOf("2024-06-14")),
    (101L, java.sql.Date.valueOf("2024-06-15")))
    .toDF("SalesOrderID", "Date"), "orders")
  private lazy val items = parquet(Seq(
    ("BX-1", 100L, 30L, 2L), ("RO-2", 100L, 20L, 1L),
    ("BX-1", 101L, 70L, 3L))
    .toDF("PRODUCTID", "SalesOrderID", "GROSSAMOUNT", "QUANTITY"), "items")
  private lazy val hist = parquet(Seq(
    ("P1", 10.0, 1L, java.sql.Date.valueOf("2024-01-01")),
    ("P2", 20.0, 1L, java.sql.Date.valueOf("2024-01-01")))
    .toDF("PRODUCTID", "PRICE", "current_flag", "eff_dt")
    .withColumn("exp_dt", lit(null).cast("date")), "hist")
  private lazy val src = parquet(Seq(
    ("P1", 10.0), ("P2", 25.0), ("P3", 30.0)) // same, changed, new
    .toDF("PRODUCTID", "PRICE"), "src")

  /** The four as-of consumers, built for one day's as-of column. */
  private def builds(asOf: Column, day: String): Seq[(String, DataFrame)] =
    Seq(
      "custDim" -> BikesPipeline.custDim(
        BikesPipeline.stageCustomer(rawCustomer, asOf), asOf),
      "prdctSmFct" -> BikesPipeline.prdctSmFct(items, orders, asOf),
      "scd2Merge" -> Scd.scd2Merge(src, hist, Seq("PRODUCTID"),
        Seq("PRICE"), asOf),
      "calendarDim" ->
        Calendar.calendarDim(spark, "2023-01-01", "2024-12-31", day))

  /** The whole-stage generated Java of a frame's executed plan (the
    * subtree headers are left out: they carry expression ids).
    */
  private def code(df: DataFrame): Seq[String] = {
    df.collect()
    codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
  }

  test("SessionTuning.withAqe pins AQE and the codegen cache size on " +
    "the builder; the cache size is static, so only a builder sets it") {
    val set = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val recorder = new SparkSession.Builder {
      override def config(key: String, value: String): this.type = {
        set(key) = value
        this
      }
    }
    SessionTuning.withAqe(recorder)
    assert(set.toMap == Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.shuffleExchange.maxThreadThreshold" -> "16",
      "spark.sql.resultQueryStage.maxThreadThreshold" -> "16",
      "spark.sql.ui.retainedExecutions" -> "50"))
    // Spark's own entry: static, 100 by default, refused by a live session
    val entry = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES
    assert(entry.key == "spark.sql.codegen.cache.maxEntries")
    assert(entry.defaultValue.contains(100))
    intercept[AnalysisException](spark.conf.set(entry.key, "10000"))
  }

  test("the as-of day stays out of generated code: custDim, prdctSmFct, " +
    "scd2Merge and calendarDim compile to the same Java on two days, " +
    "where a date literal compiles to different Java") {
    val days = Seq("2024-06-15", "2024-06-16")
    val viaDay = days.map(d => builds(Derive.asOfDay(d), d))
    viaDay.transpose.foreach { case Seq((name, a), (_, b)) =>
      val (ca, cb) = (code(a), code(b))
      assert(ca.nonEmpty, s"$name: no whole-stage code")
      assert(ca == cb, s"$name: generated code differs between days")
    }
    // the literal form this replaces: the day lands in the code body
    // (calendarDim takes a string, so only its Derive flags are built
    // over a literal here)
    def calFlags(day: String): DataFrame = {
      val a = lit(java.sql.Date.valueOf(day))
      spark.range(3).select(date_add(lit(java.sql.Date.valueOf(
        "2024-06-01")), col("id").cast("int")).as("d"))
        .select(Derive.ytdFlag(col("d"), a, 0), Derive.rollingWeekFlag(
          col("d"), a, 1))
    }
    val viaLit = days.map { d =>
      val a = lit(java.sql.Date.valueOf(d))
      builds(a, d).init :+ ("calendarDim" -> calFlags(d))
    }
    viaLit.transpose.foreach { case Seq((name, a), (_, b)) =>
      assert(code(a) != code(b), s"$name: the literal did not reach code")
    }
  }

  /** Day `d`'s extracts, parquet-backed: `products` products, each
    * day's prices one higher than the day before (so every product
    * already held is an SCD2 change), one order per day.
    */
  private def dayInputs(d: Int, products: Int): Pipeline.Inputs = {
    def p(df: DataFrame, name: String) = parquet(df, s"day$d-$name")
    Pipeline.Inputs(
      customer = p(Seq((10L, "Ann", "Lee", "F", "15-06-1980"),
        (11L + d, "Bob", "Ng", "M", "15-06-1961"))
        .toDF("customer_id", "first_name", "last_name", "gender", "DOB"),
        "customer"),
      address = p(Seq((1L, "X", "Y", "R1", 9L + d))
        .toDF("ADDRESSID", "CITY", "COUNTRY", "REGION", "POSTALCODE"),
        "address"),
      businessPartner = p(Seq((7L, "a@b.c", 1L, s"Acme$d"))
        .toDF("PARTNERID", "EMAILADDRESS", "ADDRESSID", "COMPANYNAME"),
        "partner"),
      productCategory = p(Seq(("C1", s"Cat$d"))
        .toDF("PRODCATEGORYID", "PRODCATEGORYNAME"), "category"),
      product = p((1 to products).map(i => (f"P$i%05d", "C1", 7L,
        100L + i + d)).toDF("PRODUCTID", "PRODCATEGORYID", "PARTNERID",
        "PRICE"), "product"),
      productDetail = p(Seq(("P00001", s"Prod$d"))
        .toDF("PRODUCTID", "PRODUCT_NAME"), "detail"),
      store = p(Seq((1L, "Ann", 1L, s"12$d"))
        .toDF("StoreID", "manager", "AddressID", "phone"), "store"),
      salesOrder = p(Seq((100L + d, "AMER", 10L, "Online", 1L,
        f"${15 + d}%02d-06-2024", 3L, 10L)).toDF("SalesOrderID", "SALESORG",
        "GROSSAMOUNT", "Ordertype", "StoreID", "Date", "RATING",
        "customer_id"), "order"),
      salesOrderItems = p(Seq((1000L + d, "P00001", 100L + d, 5L, 1L))
        .toDF("SalesOrderItemsID", "PRODUCTID", "SalesOrderID",
          "GROSSAMOUNT", "QUANTITY"), "items"))
  }

  /** The whole-stage Java of each ODS table's write in one refresh. */
  private def odsWriteCode(wh: Warehouse, d: Int,
      products: Int): Map[String, Seq[String]] = {
    val written = new java.util.concurrent.ConcurrentHashMap[String,
      Seq[String]]
    // the table a plan writes, not one it reads (DW builds read ods_*)
    val table = """InsertIntoHadoopFsRelationCommand \S*/(ods_\w+)__data/""".r
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          ns: Long): Unit =
        table.findFirstMatchIn(qe.executedPlan.toString).foreach(m =>
          written.put(m.group(1),
            codegenStringSeq(qe.executedPlan).map(_._2)))
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    spark.listenerManager.register(listener)
    try Pipeline.runDailyCat(spark, wh, dayInputs(d, products),
      f"2024-06-${15 + d}%02d")
    finally {
      GraftTestBus.drain(sc)
      spark.listenerManager.unregister(listener)
    }
    scala.jdk.CollectionConverters.MapHasAsScala(written).asScala.toMap
  }

  test("the gated ODS publications compile to the same Java on two " +
    "days whose extracts differ in size: no join plan of an SCD merge " +
    "depends on the day's input sizes") {
    val wh = Warehouse(s"$dir/wh")
    odsWriteCode(wh, 0, 400) // the priors
    // the product extract is far smaller, then far larger, than the
    // pinned product history: a size-chosen build side or broadcast
    // would differ between these two days
    val small = odsWriteCode(wh, 1, 2)
    val large = odsWriteCode(wh, 2, 4000)
    val ods = Pipeline.allTables.filter(_.startsWith("ods_"))
    assert(small.keySet == ods.toSet && large.keySet == ods.toSet)
    ods.foreach { t =>
      assert(small(t).nonEmpty, s"$t: no whole-stage code")
      assert(small(t) == large(t), s"$t: generated code differs between days")
    }
  }

  test("asOfDay gives the literal's answers: Age/Agerange, the six " +
    "calendar flags, eff_dt/exp_dt") {
    val day = "2024-06-15"
    val byDay = builds(Derive.asOfDay(day), day).toMap
    val byLit = builds(lit(java.sql.Date.valueOf(day)), day).toMap

    val ages = byDay("custDim").select("Cust_ID", "Age", "Age_Rng")
    assert(rows(ages) == rows(byLit("custDim")
      .select("Cust_ID", "Age", "Age_Rng")))
    assert(rows(ages) == Set(Seq(1L, 30L, "18-29"), Seq(2L, 29L, "18-29"),
      Seq(3L, 70L, "60-69"), Seq(4L, 14L, null)))

    val scd = byDay("scd2Merge")
      .select("PRODUCTID", "PRICE", "current_flag", "eff_dt", "exp_dt")
    assert(rows(scd) == rows(byLit("scd2Merge")
      .select("PRODUCTID", "PRICE", "current_flag", "eff_dt", "exp_dt")))
    val d = java.sql.Date.valueOf(day)
    assert(rows(scd.filter($"eff_dt" === d || $"exp_dt" === d)).size == 3)

    val flags = Seq("cytd_flag", "pytd_flag", "cw_flag", "pw_flag",
      "w4_flag", "w13_flag")
    val a = lit(d)
    val litFlags = byDay("calendarDim").select(
      (col("date_val") +: Seq(
        Derive.ytdFlag(col("date_val"), a, 0),
        Derive.ytdFlag(col("date_val"), a, 1),
        Derive.rollingWeekFlag(col("date_val"), a, 0),
        Derive.rollingWeekFlag(col("date_val"), a, 1),
        Derive.rollingWeekFlag(col("date_val"), a, 4),
        Derive.rollingWeekFlag(col("date_val"), a, 13))
        .zip(flags).map { case (c, n) => c.as(n) }): _*)
    val cal = byDay("calendarDim").select(("date_val" +: flags).map(col): _*)
    assert(rows(cal) == rows(litFlags))
    flags.foreach(f => assert(cal.filter(col(f) === "Y").count() > 0, f))
  }
}

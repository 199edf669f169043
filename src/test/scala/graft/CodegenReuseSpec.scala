package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.StaticSQLConf
import graft.etl.BikesPipeline
import graft.ops.{Calendar, Derive, Scd}

/** A warm refresh compiles nothing new: the session builders size the
  * codegen class cache, and the as-of day stays out of the generated
  * code, so a plan built for tomorrow compiles to today's classes.
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

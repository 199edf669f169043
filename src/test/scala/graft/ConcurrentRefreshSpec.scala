package graft

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.etl.Pipeline
import graft.sources.Warehouse

/** `Pipeline.runDailyCat` publishes each zone's tables as one concurrent
  * wave: the outcome must not depend on which task finished first, a
  * failed wave must leave nothing in flight, the pool must not grow,
  * and every job must carry the caller's local properties.
  */
class ConcurrentRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def tmpWh(): Warehouse = Warehouse(
    java.nio.file.Files.createTempDirectory("refresh-wh-").toString)

  private def catalogPayload(wh: Warehouse, n: Int): Seq[String] = {
    val f = new java.io.File(
      new java.io.File(wh.root, "__catalog__log"), f"$n%09d.commit")
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(f.toPath)).asScala.toSeq
      .filterNot(_.startsWith("TS "))
  }

  /** Day `d` (0, 1, 2): one more order per day; day 2 also changes a
    * price (SCD2) and a surname (SCD1). Duplicate address keys make
    * the constraint gate fail.
    */
  private def inputs(d: Int, dupAddress: Boolean = false): Pipeline.Inputs = {
    val orders = (0 to d).map(i => (100L + i, "AMER", 10L * (i + 1),
      "Online", 1L + i % 2, f"${15 + i}%02d-06-2024", 3L + i % 3,
      10L + i % 2))
    val items = (0 to d).flatMap(i => Seq(
      (1000L + 2 * i, "P1", 100L + i, 5L * (i + 1), 1L + i),
      (1001L + 2 * i, "P2", 100L + i, 7L * (i + 1), 2L)))
    Pipeline.Inputs(
      customer = Seq((10L, "Ann", if (d < 2) "Lee" else "Kim", "F",
        "15-06-1980"), (11L, "Bob", "Ng", "M", "15-06-1961"))
        .toDF("customer_id", "first_name", "last_name", "gender", "DOB"),
      address = (Seq((1L, "X", "Y", "R1", 9L)) ++
        (if (dupAddress) Seq((1L, "Z", "Y", "R1", 8L)) else Nil))
        .toDF("ADDRESSID", "CITY", "COUNTRY", "REGION", "POSTALCODE"),
      businessPartner = Seq((7L, "a@b.c", 1L, "Acme"))
        .toDF("PARTNERID", "EMAILADDRESS", "ADDRESSID", "COMPANYNAME"),
      productCategory = Seq(("C1", "Cat1"))
        .toDF("PRODCATEGORYID", "PRODCATEGORYNAME"),
      product = Seq(("P1", "C1", 7L, if (d < 2) 100L else 110L),
        ("P2", "C1", 7L, 200L))
        .toDF("PRODUCTID", "PRODCATEGORYID", "PARTNERID", "PRICE"),
      productDetail = Seq(("P1", "Prod1"), ("P2", "Prod2"))
        .toDF("PRODUCTID", "PRODUCT_NAME"),
      store = Seq((1L, "Ann", 1L, "123"), (2L, "Bob", 1L, "456"))
        .toDF("StoreID", "manager", "AddressID", "phone"),
      salesOrder = orders.toDF("SalesOrderID", "SALESORG", "GROSSAMOUNT",
        "Ordertype", "StoreID", "Date", "RATING", "customer_id"),
      salesOrderItems = items.toDF("SalesOrderItemsID", "PRODUCTID",
        "SalesOrderID", "GROSSAMOUNT", "QUANTITY"))
  }
  private def asOf(d: Int) = f"2024-06-${15 + d}%02d"

  test("concurrent refresh is deterministic: two fresh warehouses " +
    "refreshed over the same three days pin the same versions, and " +
    "every catalog commit lists its pins in allTables order") {
    val (whA, whB) = (tmpWh(), tmpWh())
    (0 to 2).foreach { d =>
      val (catA, vsA) = Pipeline.runDailyCat(spark, whA, inputs(d), asOf(d))
      val (catB, vsB) = Pipeline.runDailyCat(spark, whB, inputs(d), asOf(d))
      assert(catA == d + 1 && catB == d + 1)
      assert(vsA == vsB, s"day $d: pinned versions differ")
      Seq((whA, vsA), (whB, vsB)).foreach { case (wh, vs) =>
        assert(catalogPayload(wh, d + 1) ==
          Pipeline.allTables.map(t => s"PIN $t ${vs(t)}"),
          s"day $d: catalog commit is not in allTables order")
      }
    }
    Pipeline.allTables.foreach { t =>
      assert(rows(whA.catRead(spark, t)) == rows(whB.catRead(spark, t)),
        s"$t differs between the two warehouses")
    }
  }

  test("a failing constraint gate surfaces as the gate's own " +
    "exception only after the whole wave has finished: no CAS head " +
    "moves after it surfaces, and the second wave never starts") {
    val wh = tmpWh()
    Pipeline.runDailyCat(spark, wh, inputs(0), asOf(0))
    val before = Pipeline.allTables.map(t => t -> wh.casHead(t)).toMap
    val cat = wh.catSnapshot()
    val e = intercept[IllegalStateException] {
      Pipeline.runDailyCat(spark, wh, inputs(1, dupAddress = true), asOf(1))
    }
    val atThrow = Pipeline.allTables.map(t => t -> wh.casHead(t)).toMap
    assert(e.getMessage.contains("ods_address") &&
      e.getMessage.contains("duplicate"), e.getMessage)
    assert(spark.range(10000).selectExpr("sum(id)").head().getLong(0) ==
      49995000L)
    assert(Pipeline.allTables.map(t => t -> wh.casHead(t)).toMap == atThrow,
      "a CAS write landed after the refresh threw")
    Pipeline.allTables.foreach { t =>
      val moved = atThrow(t) - before(t)
      val expected =
        if (t.startsWith("dw_") || t == "ods_address") 0 else 1
      assert(moved == expected, s"$t moved by $moved versions")
    }
    assert(wh.catSnapshot() == cat, "the failed refresh moved a pin")
  }

  test("the refresh pool does not grow: after five refreshes at most " +
    "nine threads carry its prefix, all of them daemon") {
    val wh = tmpWh()
    (0 until 5).foreach(d =>
      Pipeline.runDailyCat(spark, wh, inputs(d % 3), f"2024-07-${d + 1}%02d"))
    val pooled = scala.jdk.CollectionConverters.SetHasAsScala(
      Thread.getAllStackTraces.keySet).asScala.toSeq
      .filter(_.getName.startsWith(Pipeline.refreshThreadPrefix))
    assert(pooled.nonEmpty && pooled.size <= 9,
      s"${pooled.size} refresh threads")
    assert(pooled.forall(_.isDaemon), "a refresh thread is not a daemon")
  }

  test("every job a refresh starts carries the caller's local " +
    "properties") {
    val wh = tmpWh()
    val sc = spark.sparkContext
    val tag = "refresh-" + java.util.UUID.randomUUID()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<none>"))
        ()
      }
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobDescription(tag)
    try Pipeline.runDailyCat(spark, wh, inputs(0), asOf(0))
    finally {
      sc.setJobDescription(null)
      GraftTestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val descs = scala.jdk.CollectionConverters.CollectionHasAsScala(seen)
      .asScala.toSeq
    assert(descs.size >= Pipeline.allTables.size, s"${descs.size} jobs")
    assert(descs.forall(_ == tag),
      s"jobs without the caller's description: ${descs.filter(_ != tag)}")
  }
}

package graft

import org.apache.spark.sql.SparkSession
import graft.etl.Pipeline

/** The small Bikes extract set the daily-refresh specs run day after
  * day: two customers, one address, one partner, two products in two
  * categories, two stores and three orders of four items. The
  * arguments give the next day's changes: customer 10's last name
  * (an SCD1 change), BX-1001's price (SCD2) and order 103 with one
  * item (CDC).
  */
object BikesDays {
  def inputs(spark: SparkSession, last10: String, priceBX: Long,
      extraOrder: Boolean): Pipeline.Inputs = {
    import spark.implicits._
    val orders = Seq(
      (100L, "AMER", 50L, "Online", 1L, "01-03-2019", 4L, 10L),
      (101L, "EMEA", 70L, "Offline", 2L, "01-03-2019", 5L, 11L),
      (102L, "APJ", 30L, "Online", 1L, "02-03-2019", 3L, 10L)) ++
      (if (extraOrder)
        Seq((103L, "AMER", 40L, "Online", 1L, "03-03-2019", 5L, 11L))
      else Nil)
    val items = Seq(
      (1L, "BX-1001", 100L, 30L, 2L), (2L, "RO-2001", 100L, 20L, 1L),
      (3L, "BX-1001", 101L, 70L, 3L), (4L, "RO-2001", 102L, 30L, 2L)) ++
      (if (extraOrder) Seq((5L, "BX-1001", 103L, 40L, 1L)) else Nil)
    Pipeline.Inputs(
      customer = Seq(
        (10L, "Laraine@%", last10, "F", "12-10-1953", "IT", "Mass", "N"),
        (11L, "Eli#", "Bockman##", "M", "01-01-1990", "IT", "Mass", "N"))
        .toDF("customer_id", "first_name", "last_name", "gender", "DOB",
          "job_industry_category", "wealth_segment", "deceased_indicator"),
      address = Seq((1L, "Lyon", "France", "EMEA", 69000L))
        .toDF("ADDRESSID", "CITY", "COUNTRY", "REGION", "POSTALCODE"),
      businessPartner = Seq((7L, "a@b.c", 1L, "Acme"))
        .toDF("PARTNERID", "EMAILADDRESS", "ADDRESSID", "COMPANYNAME"),
      productCategory = Seq(("BX", "BMX"), ("RO", "Road"))
        .toDF("PRODCATEGORYID", "PRODCATEGORYNAME"),
      product = Seq(("BX-1001", "BX", 7L, priceBX),
        ("RO-2001", "RO", 7L, 200L))
        .toDF("PRODUCTID", "PRODCATEGORYID", "PARTNERID", "PRICE"),
      productDetail = Seq(("BX-1001", "BMX Deluxe"),
        ("RO-2001", "Road Racer"))
        .toDF("PRODUCTID", "PRODUCT_NAME"),
      store = Seq((1L, "Ann", 1L, "123"), (2L, "Bob", 1L, "456"))
        .toDF("StoreID", "manager", "AddressID", "phone"),
      salesOrder = orders.toDF("SalesOrderID", "SALESORG", "GROSSAMOUNT",
        "Ordertype", "StoreID", "Date", "RATING", "customer_id"),
      salesOrderItems = items.toDF("SalesOrderItemsID", "PRODUCTID",
        "SalesOrderID", "GROSSAMOUNT", "QUANTITY"))
  }
}

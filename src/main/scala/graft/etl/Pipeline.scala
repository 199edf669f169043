package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Derive, Scd}
import graft.sources.Warehouse

/** The reference's full daily refresh as one orchestrated run
  * (E1: ETLScript_withSCDimplementation.py, nine table blocks; then
  * E2: BikesDWSQl.sql, seven statements in order). Each step is a
  * DataFrame pipeline ending in a warehouse write; ordering matters
  * only for the self-referential reads (SCD targets, CDC facts read
  * their own prior contents — E1 step 3 / DW:62,94), which
  * `Warehouse.mergeOverwrite` makes safe.
  */
object Pipeline {

  /** Raw (pre-staging) inputs — one per SourceData CSV. */
  final case class Inputs(
      customer: DataFrame, address: DataFrame, businessPartner: DataFrame,
      productCategory: DataFrame, product: DataFrame,
      productDetail: DataFrame, store: DataFrame, salesOrder: DataFrame,
      salesOrderItems: DataFrame)

  private val scd1Tables: Seq[(String, Seq[String], Seq[String],
      Seq[String], Seq[String])] = Seq(
    // (ods name, keep-list, date cols, key, attrs)
    ("ods_address",
      Seq("ADDRESSID", "CITY", "COUNTRY", "REGION", "POSTALCODE"), Nil,
      Seq("ADDRESSID"), Seq("CITY", "COUNTRY", "REGION", "POSTALCODE")),
    ("ods_business_partner",
      Seq("PARTNERID", "EMAILADDRESS", "ADDRESSID", "COMPANYNAME"), Nil,
      Seq("PARTNERID"), Seq("EMAILADDRESS", "ADDRESSID", "COMPANYNAME")),
    ("ods_product_category",
      Seq("PRODCATEGORYID", "PRODCATEGORYNAME"), Nil,
      Seq("PRODCATEGORYID"), Seq("PRODCATEGORYNAME")),
    ("ods_product_detail",
      Seq("PRODUCTID", "PRODUCT_NAME"), Nil,
      Seq("PRODUCTID"), Seq("PRODUCT_NAME")),
    ("ods_store",
      Seq("StoreID", "manager", "AddressID", "phone"), Nil,
      Seq("StoreID"), Seq("manager", "AddressID", "phone")),
    ("ods_sales_order",
      Seq("SalesOrderID", "SALESORG", "GROSSAMOUNT", "Ordertype",
        "StoreID", "Date", "RATING", "customer_id"), Seq("Date"),
      Seq("SalesOrderID"), Seq("SALESORG", "GROSSAMOUNT", "Ordertype",
        "StoreID", "Date", "RATING", "customer_id")),
    ("ods_sales_order_items",
      Seq("SalesOrderItemsID", "PRODUCTID", "SalesOrderID",
        "GROSSAMOUNT", "QUANTITY"), Nil,
      Seq("SalesOrderItemsID"), Seq("PRODUCTID", "SalesOrderID",
        "GROSSAMOUNT", "QUANTITY")))

  private def scd1Load(spark: SparkSession, wh: Warehouse, name: String,
      staged: DataFrame, keys: Seq[String], attrs: Seq[String]): Unit = {
    // persist: the constraint gate is an extra action over the staging
    // lineage — without caching, the merge below would recompute the
    // full stage* transform chain a second time. Safe to cache: staged
    // derives from the raw inputs, never from a warehouse path this
    // load overwrites (see the Scd.scd2Merge stale-cache note).
    val cached = staged.persist()
    try {
      // DDL constraint gate (Createtables_BIKES.sql PKs): key
      // uniqueness + NOT NULL must hold BEFORE the merge — scd1Merge
      // assumes one src row per key, and a violating batch must fail
      // the load, not corrupt the dimension.
      Warehouse.checkConstraints(cached, name, keys)
      val merged =
        if (wh.exists(name))
          Scd.scd1Merge(cached, wh.read(spark, name), keys, attrs)
        else cached
      wh.mergeOverwrite(merged, name)
    } finally {
      cached.unpersist()
      ()
    }
  }

  /** One daily refresh: staging → ODS SCD merges → DW build. */
  def runDaily(spark: SparkSession, wh: Warehouse, raw: Inputs,
      asOf: String): Unit = {
    val asOfD = Derive.asOfDay(asOf)

    // ---- E1: staging + SCD merges into the ODS zone ----
    val stagedCust = BikesPipeline.stageCustomer(raw.customer, asOfD)
    scd1Load(spark, wh, "ods_customer", stagedCust, Seq("customer_id"),
      Seq("first_name", "last_name", "gender", "DOB", "Age", "Agerange"))

    val rawByName: Map[String, DataFrame] = Map(
      "ods_address" -> raw.address,
      "ods_business_partner" -> raw.businessPartner,
      "ods_product_category" -> raw.productCategory,
      "ods_product_detail" -> raw.productDetail,
      "ods_store" -> raw.store,
      "ods_sales_order" -> raw.salesOrder,
      "ods_sales_order_items" -> raw.salesOrderItems)
    scd1Tables.foreach { case (name, keep, dateCols, keys, attrs) =>
      val staged = BikesPipeline.stage(rawByName(name), keep, dateCols)
      scd1Load(spark, wh, name, staged, keys, attrs)
    }

    // Product: SCD Type-2 versioned history (py:630-717)
    val stagedProd = BikesPipeline.stage(raw.product,
      Seq("PRODUCTID", "PRODCATEGORYID", "PARTNERID", "PRICE"))
      .persist() // gate + merge both consume it (see scd1Load note)
    try {
      Warehouse.checkConstraints(stagedProd, "ods_product_hist",
        Seq("PRODUCTID"))
      val prodAttrs = Seq("PRODCATEGORYID", "PARTNERID", "PRICE")
      val prodHist =
        if (wh.exists("ods_product_hist"))
          Scd.scd2Merge(stagedProd, wh.read(spark, "ods_product_hist"),
            Seq("PRODUCTID"), prodAttrs, asOfD)
        else stagedProd
          .withColumn("current_flag", lit(1L))
          .withColumn("eff_dt", asOfD)
          .withColumn("exp_dt", lit(null).cast("date"))
      wh.mergeOverwrite(prodHist, "ods_product_hist")
    } finally {
      stagedProd.unpersist()
      ()
    }

    // ---- E2: warehouse build (BikesDWSQl.sql:22-200, in order) ----
    def ods(n: String) = wh.read(spark, n)
    val items = ods("ods_sales_order_items")
    val orders = ods("ods_sales_order")

    wh.overwrite(BikesPipeline.prdctSmFct(items, orders, asOfD),
      "dw_prdct_sm_fct")

    val ordrSmExisting =
      if (wh.exists("dw_ordr_sm_fct"))
        wh.read(spark, "dw_ordr_sm_fct").select("Ordr_ID")
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new org.apache.spark.sql.types.StructType()
          .add("Ordr_ID", org.apache.spark.sql.types.LongType))
    wh.append(BikesPipeline.ordrSmFct(items, orders, ordrSmExisting,
      asOfD), "dw_ordr_sm_fct")

    val ordrDtlExisting =
      if (wh.exists("dw_ordr_dtl_fct"))
        wh.read(spark, "dw_ordr_dtl_fct").select("Ordr_ID", "Prdct_ID")
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new org.apache.spark.sql.types.StructType()
          .add("Ordr_ID", org.apache.spark.sql.types.LongType)
          .add("Prdct_ID", org.apache.spark.sql.types.StringType))
    wh.append(BikesPipeline.ordrDtlFct(items, orders, ordrDtlExisting,
      asOfD), "dw_ordr_dtl_fct")

    wh.overwrite(BikesPipeline.custDim(ods("ods_customer"), asOfD),
      "dw_cust_dim")
    wh.overwrite(BikesPipeline.strDim(ods("ods_store"),
      ods("ods_address"), asOfD), "dw_str_dim")
    wh.overwrite(BikesPipeline.prdctDim(ods("ods_product_hist"),
      ods("ods_product_category"), ods("ods_product_detail"),
      ods("ods_business_partner"), ods("ods_address"), asOfD),
      "dw_prdct_dim")
    wh.overwrite(BikesPipeline.actPerdDim(spark, "2018-01-01",
      "2020-12-31", asOf), "dw_act_perd_dim")
  }

  /** Every table one daily refresh writes — the 9 ODS SCD targets
    * (E1) and the 7 DW builds (E2). [[runDailyCat]] pins ALL of them
    * in one catalog commit.
    */
  val allTables: Seq[String] = Seq(
    "ods_customer", "ods_address", "ods_business_partner",
    "ods_product_category", "ods_product_detail", "ods_store",
    "ods_sales_order", "ods_sales_order_items", "ods_product_hist",
    "dw_prdct_sm_fct", "dw_ordr_sm_fct", "dw_ordr_dtl_fct",
    "dw_cust_dim", "dw_str_dim", "dw_prdct_dim", "dw_act_perd_dim")

  /** The DW zone alone (E2's seven statements). */
  val dwTables: Seq[String] = allTables.filter(_.startsWith("dw_"))

  /** [[runDaily]] re-based onto the CATALOG tier: the ENTIRE daily
    * refresh — nine SCD merges and seven DW builds — publishes as ONE
    * cross-table catalog transaction, which is the reference's actual
    * transaction story (BikesDWSQl.sql runs every DW statement inside
    * a single T-SQL batch ending in one `commit`, line 202: a reader
    * can never join new `Prdct_Sm_Fct` against old `Cust_Dim`).
    * [[runDaily]]'s single-writer devices cannot give that across
    * TABLES — a catalog reader mid-refresh there sees whichever
    * subset has landed. Here:
    *
    *  1. every read of prior state resolves through ONE catalog
    *     snapshot taken at entry (`base`) — the refresh derives from
    *     a consistent old warehouse even while concurrent
    *     transactions land;
    *  2. each table's COMPLETE new state lands as a REPLACE commit in
    *     its own CAS log ([[Warehouse.casOverwrite]]) — invisible to
    *     catalog readers, visible to direct `casRead`ers (the
    *     documented catalog-vs-direct visibility split). DW builds
    *     read the just-committed ODS versions back from parquet, so
    *     the staging lineage is never recomputed;
    *  3. ONE [[Warehouse.catCommit]] pins all 16 tables: the refresh
    *     flips old-complete → new-complete atomically, nothing in
    *     between (`beforeCommit` is the seam the mid-refresh-reader
    *     spec and q291 inject into).
    *
    * A failure anywhere (e.g. the constraint gate) leaves the catalog
    * untouched: staged REPLACE commits without a pin are dead
    * versions the next successful refresh supersedes. Incremental
    * facts are O(delta): the CDC delta (computed against the pinned
    * prior) lands as ONE casAppend wave when the fact log is at its
    * pinned base — the reference's INSERT-only fact loads
    * (BikesDWSQl.sql:41,75) — falling back to a full prior∪delta
    * REPLACE only when the log head moved past the base (dead
    * versions from a failed refresh, or concurrent direct writers).
    *
    * Returns (catalog version, per-table pinned versions).
    */
  def runDailyCat(spark: SparkSession, wh: Warehouse, raw: Inputs,
      asOf: String, retries: Int = 8,
      beforeCommit: () => Unit = () => ()): (Int, Map[String, Int]) = {
    val asOfD = Derive.asOfDay(asOf)
    val base = wh.catSnapshot() // the one consistent read base
    def prior(n: String): Option[DataFrame] =
      base.get(n).map(v => wh.casReadAt(spark, n, v))

    // ---- E1: ODS SCD merges, each landing as an unpinned REPLACE --
    val vs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def publishScd1(name: String, staged: DataFrame, keys: Seq[String],
        attrs: Seq[String]): Unit = {
      val cached = staged.persist()
      try {
        Warehouse.checkConstraints(cached, name, keys)
        val merged = prior(name) match {
          case Some(tgt) => Scd.scd1Merge(cached, tgt, keys, attrs)
          case None => cached
        }
        vs(name) = wh.casOverwrite(merged, name, retries)
      } finally {
        cached.unpersist()
        ()
      }
    }
    publishScd1("ods_customer",
      BikesPipeline.stageCustomer(raw.customer, asOfD),
      Seq("customer_id"),
      Seq("first_name", "last_name", "gender", "DOB", "Age", "Agerange"))
    val rawByName: Map[String, DataFrame] = Map(
      "ods_address" -> raw.address,
      "ods_business_partner" -> raw.businessPartner,
      "ods_product_category" -> raw.productCategory,
      "ods_product_detail" -> raw.productDetail,
      "ods_store" -> raw.store,
      "ods_sales_order" -> raw.salesOrder,
      "ods_sales_order_items" -> raw.salesOrderItems)
    scd1Tables.foreach { case (name, keep, dateCols, keys, attrs) =>
      publishScd1(name, BikesPipeline.stage(rawByName(name), keep,
        dateCols), keys, attrs)
    }

    val stagedProd = BikesPipeline.stage(raw.product,
      Seq("PRODUCTID", "PRODCATEGORYID", "PARTNERID", "PRICE"))
      .persist()
    try {
      Warehouse.checkConstraints(stagedProd, "ods_product_hist",
        Seq("PRODUCTID"))
      val prodAttrs = Seq("PRODCATEGORYID", "PARTNERID", "PRICE")
      val prodHist = prior("ods_product_hist") match {
        case Some(h) =>
          Scd.scd2Merge(stagedProd, h, Seq("PRODUCTID"), prodAttrs, asOfD)
        case None => stagedProd
          .withColumn("current_flag", lit(1L))
          .withColumn("eff_dt", asOfD)
          .withColumn("exp_dt", lit(null).cast("date"))
      }
      vs("ods_product_hist") =
        wh.casOverwrite(prodHist, "ods_product_hist", retries)
    } finally {
      stagedProd.unpersist()
      ()
    }

    // ---- E2: DW builds over the JUST-COMMITTED ODS versions -------
    def ods(n: String) = wh.casReadAt(spark, n, vs(n))
    val items = ods("ods_sales_order_items")
    val orders = ods("ods_sales_order")

    vs("dw_prdct_sm_fct") = wh.casOverwrite(
      BikesPipeline.prdctSmFct(items, orders, asOfD),
      "dw_prdct_sm_fct", retries)

    // incremental facts land O(delta), matching the reference's
    // INSERT-only fact loads (BikesDWSQl.sql:41 `insert into
    // Ordr_Sm_Fct`, :75 `insert into Ordr_Dtl_Fct` — never a
    // truncate): when the fact log's head IS the pinned base version
    // (the normal daily cadence), the CDC delta APPENDS as one ADD
    // wave and the pin advances over it — a day's refresh writes the
    // day's rows, not the table. A head that moved past the base (a
    // failed refresh's dead unpinned REPLACE, or a concurrent direct
    // writer) falls back to the full prior∪delta REPLACE, which is
    // correct under ANY log state because it derives only from the
    // pinned snapshot. At 100 TB the fast path is the difference
    // between O(day) and O(history) daily writes; [[Warehouse
    // .casMaybeOptimize]] keeps the accumulated daily waves' read
    // fan-in bounded.
    def publishFact(name: String, delta: DataFrame,
        priorDf: Option[DataFrame]): Unit =
      vs(name) = priorDf match {
        case Some(_) if wh.casHead(name) == base(name) =>
          wh.casAppend(delta, name, retries)
        case Some(p) =>
          wh.casOverwrite(p.unionByName(delta), name, retries)
        case None => wh.casOverwrite(delta, name, retries)
      }

    val smPrior = prior("dw_ordr_sm_fct")
    val smExisting = smPrior.map(_.select("Ordr_ID")).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new org.apache.spark.sql.types.StructType()
          .add("Ordr_ID", org.apache.spark.sql.types.LongType)))
    publishFact("dw_ordr_sm_fct",
      BikesPipeline.ordrSmFct(items, orders, smExisting, asOfD),
      smPrior)

    val dtlPrior = prior("dw_ordr_dtl_fct")
    val dtlExisting = dtlPrior.map(_.select("Ordr_ID", "Prdct_ID"))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new org.apache.spark.sql.types.StructType()
          .add("Ordr_ID", org.apache.spark.sql.types.LongType)
          .add("Prdct_ID", org.apache.spark.sql.types.StringType)))
    publishFact("dw_ordr_dtl_fct",
      BikesPipeline.ordrDtlFct(items, orders, dtlExisting, asOfD),
      dtlPrior)

    vs("dw_cust_dim") = wh.casOverwrite(
      BikesPipeline.custDim(ods("ods_customer"), asOfD),
      "dw_cust_dim", retries)
    vs("dw_str_dim") = wh.casOverwrite(
      BikesPipeline.strDim(ods("ods_store"), ods("ods_address"), asOfD),
      "dw_str_dim", retries)
    vs("dw_prdct_dim") = wh.casOverwrite(
      BikesPipeline.prdctDim(ods("ods_product_hist"),
        ods("ods_product_category"), ods("ods_product_detail"),
        ods("ods_business_partner"), ods("ods_address"), asOfD),
      "dw_prdct_dim", retries)
    vs("dw_act_perd_dim") = wh.casOverwrite(
      BikesPipeline.actPerdDim(spark, "2018-01-01", "2020-12-31", asOf),
      "dw_act_perd_dim", retries)

    // ---- the reference's line-202 `commit`: ONE pin set -----------
    // catCommitMax, not catCommit: the fact pins ADVANCE over
    // appended deltas, and the monotone merge means a concurrent
    // transaction's pins on the same tables can never be regressed
    // by this refresh (the q292 device)
    beforeCommit()
    (wh.catCommitMax(vs.toSeq, retries), vs.toMap)
  }
}

package graft.etl

import java.util.concurrent.{CompletionException, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.{Failure, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.ops.{Derive, Scd}
import graft.sources.Warehouse

/** The reference's full daily refresh as one orchestrated run
  * (E1: ETLScript_withSCDimplementation.py, nine table blocks; then
  * E2: BikesDWSQl.sql, seven statements in order). Each step is a
  * DataFrame pipeline ending in a warehouse write; ordering matters
  * only for the self-referential reads (SCD targets, CDC facts read
  * their own prior contents — E1 step 3 / DW:62,94) and for the DW
  * builds reading the ODS zone. [[runDaily]] runs the steps in the
  * reference's serial order; [[runDailyCat]] runs each zone's tables
  * as one concurrent wave.
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

  /** One daily refresh: staging → ODS SCD merges → DW build, one
    * table after another. It stays serial because its writes are
    * single-writer devices: [[Warehouse.mergeOverwrite]]'s
    * `.tmp`/`.old` swap journal and the plain `overwrite`/`append`
    * paths assume no other writer, so only the CAS-logged
    * [[runDailyCat]] publishes concurrently.
    */
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

  /** Name prefix of the refresh pool's threads. */
  private[graft] val refreshThreadPrefix = "graft-refresh-"

  /** The pool [[runDailyCat]]'s waves run on: one per JVM, created on
    * first use, daemon threads, as wide as the widest wave (the nine
    * ODS publications), so a wave's tasks never queue behind each
    * other. Concurrent refreshes share it and queue instead of adding
    * threads.
    */
  private lazy val refreshPool: ExecutorService = {
    val width = math.max(allTables.size - dwTables.size, dwTables.size)
    val made = new AtomicInteger
    Executors.newFixedThreadPool(width, (r: Runnable) => {
      val t = new Thread(r, refreshThreadPrefix + made.incrementAndGet())
      t.setDaemon(true)
      t
    })
  }

  /** Runs one wave of table publications concurrently and returns each
    * table's CAS version. Each task runs with the caller's local
    * properties and active session, captured at submission — not the
    * ones a pooled thread inherited when it was created. The wave waits
    * for EVERY task, failed or not, so no write lands after it returns
    * or throws; it then rethrows the first failure in `tasks` order as
    * the task threw it.
    */
  private def wave(spark: SparkSession,
      tasks: Seq[(String, () => Int)]): Seq[(String, Int)] = {
    val session =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val running = tasks.map { case (name, publish) =>
      name -> SQLExecution.withThreadLocalCaptured(session, refreshPool)(
        publish())
    }
    val outcomes = running.map { case (name, f) => name -> Try(f.join()) }
    outcomes.map { case (name, done) =>
      name -> done.recoverWith {
        case e: CompletionException => Failure(e.getCause)
      }.get
    }
  }

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
    * The tables publish in two concurrent [[wave]]s: the nine ODS
    * tables, then the seven DW builds. A table reads only its own raw
    * extract, its own pinned prior and (DW) the ODS versions of the
    * first wave, and writes only its own CAS log, so within a wave the
    * order does not matter. A refresh is 16 small SQL executions, one
    * write per table (each ODS table's constraint gate runs inside its
    * write, [[Warehouse.constraintGate]]), so its time is fixed per-job
    * cost; run one after another they left the session's cores idle
    * most of the time. The pin list is built in [[allTables]] order,
    * so the catalog commit and the returned versions do not depend on
    * which task finished first.
    *
    * A failure anywhere leaves the catalog untouched. A batch that
    * fails its constraint gate commits nothing to its own log either
    * (the gate is checked after the write, before the CAS, and the
    * staged files are deleted); staged REPLACE commits of the other
    * tables, without a pin, are dead versions the next successful
    * refresh supersedes. Incremental
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
    // the DDL constraint gate (Createtables_BIKES.sql PKs) runs inside
    // each publication's write, and casOverwrite checks it before the
    // CAS: one SQL execution per table, and a violating batch fails
    // the refresh without moving the table's head
    def publishScd1(name: String, staged: DataFrame, keys: Seq[String],
        attrs: Seq[String]): Int = {
      val (gated, check) = Warehouse.constraintGate(staged, name, keys)
      val merged = prior(name) match {
        case Some(tgt) => Scd.scd1Merge(gated, tgt, keys, attrs)
        case None => gated
      }
      wh.casOverwrite(merged, name, retries, validate = check)
    }
    def publishProductHist(): Int = {
      val (stagedProd, check) = Warehouse.constraintGate(
        BikesPipeline.stage(raw.product,
          Seq("PRODUCTID", "PRODCATEGORYID", "PARTNERID", "PRICE")),
        "ods_product_hist", Seq("PRODUCTID"))
      val prodAttrs = Seq("PRODCATEGORYID", "PARTNERID", "PRICE")
      // sort-merge joins on the history, whatever the sizes: the
      // planner's size estimates of the extract and of the history lie
      // close together, so a size-chosen plan (build side, broadcast or
      // not) changed from day to day and compiled new classes each time
      // it did. The gate's key shuffle already sorts the extract.
      val prodHist = prior("ods_product_hist") match {
        case Some(h) =>
          Scd.scd2Merge(stagedProd, h.hint("merge"), Seq("PRODUCTID"),
            prodAttrs, asOfD)
        case None => stagedProd
          .withColumn("current_flag", lit(1L))
          .withColumn("eff_dt", asOfD)
          .withColumn("exp_dt", lit(null).cast("date"))
      }
      wh.casOverwrite(prodHist, "ods_product_hist", retries,
        validate = check)
    }
    val rawByName: Map[String, DataFrame] = Map(
      "ods_address" -> raw.address,
      "ods_business_partner" -> raw.businessPartner,
      "ods_product_category" -> raw.productCategory,
      "ods_product_detail" -> raw.productDetail,
      "ods_store" -> raw.store,
      "ods_sales_order" -> raw.salesOrder,
      "ods_sales_order_items" -> raw.salesOrderItems)
    val odsVs = wave(spark,
      ("ods_customer" -> (() => publishScd1("ods_customer",
        BikesPipeline.stageCustomer(raw.customer, asOfD),
        Seq("customer_id"),
        Seq("first_name", "last_name", "gender", "DOB", "Age",
          "Agerange")))) +:
      scd1Tables.map { case (name, keep, dateCols, keys, attrs) =>
        name -> (() => publishScd1(name,
          BikesPipeline.stage(rawByName(name), keep, dateCols), keys,
          attrs))
      } :+
      ("ods_product_hist" -> (() => publishProductHist()))).toMap

    // ---- E2: DW builds over the JUST-COMMITTED ODS versions -------
    def ods(n: String) = wh.casReadAt(spark, n, odsVs(n))
    val items = ods("ods_sales_order_items")
    val orders = ods("ods_sales_order")

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
    // `grain`: the fact's key columns; the CDC build leaves the keys
    // the pinned prior already holds out of the delta
    def publishFact(name: String, grain: StructType,
        build: DataFrame => DataFrame): Int = {
      val priorDf = prior(name)
      val delta = build(
        priorDf.map(_.select(grain.fieldNames.toSeq.map(col): _*))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], grain)))
      priorDf match {
        case Some(_) if wh.casHead(name) == base(name) =>
          wh.casAppend(delta, name, retries)
        case Some(p) =>
          wh.casOverwrite(p.unionByName(delta), name, retries)
        case None => wh.casOverwrite(delta, name, retries)
      }
    }
    val dwVs = wave(spark, Seq(
      "dw_prdct_sm_fct" -> (() => wh.casOverwrite(
        BikesPipeline.prdctSmFct(items, orders, asOfD),
        "dw_prdct_sm_fct", retries)),
      "dw_ordr_sm_fct" -> (() => publishFact("dw_ordr_sm_fct",
        new StructType().add("Ordr_ID", LongType),
        BikesPipeline.ordrSmFct(items, orders, _, asOfD))),
      "dw_ordr_dtl_fct" -> (() => publishFact("dw_ordr_dtl_fct",
        new StructType().add("Ordr_ID", LongType)
          .add("Prdct_ID", StringType),
        BikesPipeline.ordrDtlFct(items, orders, _, asOfD))),
      "dw_cust_dim" -> (() => wh.casOverwrite(
        BikesPipeline.custDim(ods("ods_customer"), asOfD),
        "dw_cust_dim", retries)),
      "dw_str_dim" -> (() => wh.casOverwrite(
        BikesPipeline.strDim(ods("ods_store"), ods("ods_address"),
          asOfD), "dw_str_dim", retries)),
      "dw_prdct_dim" -> (() => wh.casOverwrite(
        BikesPipeline.prdctDim(ods("ods_product_hist"),
          ods("ods_product_category"), ods("ods_product_detail"),
          ods("ods_business_partner"), ods("ods_address"), asOfD),
        "dw_prdct_dim", retries)),
      "dw_act_perd_dim" -> (() => wh.casOverwrite(
        BikesPipeline.actPerdDim(spark, "2018-01-01", "2020-12-31",
          asOf), "dw_act_perd_dim", retries)))).toMap

    // ---- the reference's line-202 `commit`: ONE pin set -----------
    // catCommitMax, not catCommit: the fact pins ADVANCE over
    // appended deltas, and the monotone merge means a concurrent
    // transaction's pins on the same tables can never be regressed
    // by this refresh (the q292 device)
    val published = odsVs ++ dwVs
    val vs = allTables.map(t => t -> published(t))
    beforeCommit()
    (wh.catCommitMax(vs, retries), vs.toMap)
  }
}

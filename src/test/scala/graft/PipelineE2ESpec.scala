package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.Pipeline
import graft.sources.Warehouse

/** End-to-end daily-refresh sequence test (SURVEY §5.2), through
  * [[Pipeline.runDailyCat]] and read back through the catalog: run 1 loads,
  * run 2 carries an SCD1 change, an SCD2 change, and a new order —
  * asserting SCD1 overwrote, SCD2 expired+versioned, CDC facts
  * appended only the delta, dims refreshed; and a third identical run
  * changes nothing.
  */
class PipelineE2ESpec extends SparkSpec {
  import spark.implicits._

  private def inputs(last10: String, priceBX: Long,
      extraOrder: Boolean): Pipeline.Inputs =
    BikesDays.inputs(spark, last10, priceBX, extraOrder)

  test("daily refresh ×3: SCD1 overwrite, SCD2 expire+version, CDC " +
    "delta-append, full-refresh dims, idempotent re-run") {
    val wh = Warehouse(Files.createTempDirectory("graft-e2e").toString)
    def fct(n: String): DataFrame = wh.catRead(spark, n)

    Pipeline.runDailyCat(spark, wh, inputs("Medendorp@@", 100L,
      extraOrder = false), "2024-06-15")
    assert(fct("dw_ordr_sm_fct").count() == 3)
    assert(fct("dw_ordr_dtl_fct").count() == 4)
    assert(fct("ods_product_hist").count() == 2)
    assert(fct("dw_cust_dim").filter($"Cust_ID" === 10L).head()
      .getAs[String]("Cust_Lst_Nm") == "Medendorp")

    // run 2: last_name change (SCD1), BX price 100→120 (SCD2), order 103
    Pipeline.runDailyCat(spark, wh, inputs("Smith", 120L,
      extraOrder = true), "2024-06-16")
    // SCD1: overwritten in place, still one row
    val c10 = fct("ods_customer").filter($"customer_id" === 10L)
    assert(c10.count() == 1 &&
      c10.head().getAs[String]("last_name") == "Smith")
    // SCD2: BX has expired old + fresh current version
    val bx = fct("ods_product_hist").filter($"PRODUCTID" === "BX-1001")
      .orderBy("current_flag").collect()
    assert(bx.length == 2)
    assert(bx(0).getAs[Long]("current_flag") == 0L &&
      bx(0).getAs[Long]("PRICE") == 100L &&
      bx(0).getAs[java.sql.Date]("exp_dt").toString == "2024-06-16")
    assert(bx(1).getAs[Long]("current_flag") == 1L &&
      bx(1).getAs[Long]("PRICE") == 120L &&
      bx(1).getAs[java.sql.Date]("eff_dt").toString == "2024-06-16")
    // CDC: exactly the new order appended at both grains
    assert(fct("dw_ordr_sm_fct").count() == 4)
    assert(fct("dw_ordr_sm_fct").filter($"Ordr_ID" === 103L)
      .head().getAs[Long]("Ordr_Amt") == 40L)
    assert(fct("dw_ordr_dtl_fct").count() == 5)
    // dims refreshed: new price + new name visible
    assert(fct("dw_prdct_dim").filter($"Prdct_ID" === "BX-1001")
      .head().getAs[Long]("Prc_Amt") == 120L)
    assert(fct("dw_cust_dim").filter($"Cust_ID" === 10L).head()
      .getAs[String]("Cust_Lst_Nm") == "Smith")

    // run 3: identical input → nothing moves
    Pipeline.runDailyCat(spark, wh, inputs("Smith", 120L,
      extraOrder = true), "2024-06-17")
    assert(fct("dw_ordr_sm_fct").count() == 4)
    assert(fct("dw_ordr_dtl_fct").count() == 5)
    assert(fct("ods_product_hist").count() == 3)
    assert(fct("ods_product_hist").filter($"current_flag" === 1)
      .count() == 2)
  }
}

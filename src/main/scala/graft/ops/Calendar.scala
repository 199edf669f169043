package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Calendar-dimension generator (reference: the DATETAB date spine,
  * Createtables_BIKES.sql:6-28, plus the Act_Perd_Dim derived attributes,
  * BikesDWSQl.sql:172-200). The reference numbers an arbitrary donor table
  * with ROW_NUMBER to synthesize rows; the idiomatic Spark form is
  * `spark.range(nDays)` — distributed, no donor table, no window.
  * `asOf` replaces every `getdate()` so output is deterministic.
  */
object Calendar {

  def calendarDim(spark: SparkSession, start: String, end: String,
      asOf: String): DataFrame = {
    val startD = java.time.LocalDate.parse(start)
    val endD = java.time.LocalDate.parse(end)
    val nDays = java.time.temporal.ChronoUnit.DAYS.between(startD, endD) + 1
    val asOfCol = Derive.asOfDay(asOf)
    val d = col("date_val")
    spark.range(nDays)
      .select(date_add(lit(java.sql.Date.valueOf(start)),
        col("id").cast("int")).as("date_val"))
      .select(
        d,
        dayofmonth(d).cast("long").as("day_of_month"),        // DDL:8
        date_format(d, "EEEE").as("weekday_name"),            // DDL:9
        dayofweek(d).cast("long").as("weekday_num"),          // DDL:11 (Sun=1)
        weekofyear(d).cast("long").as("week_of_year"),        // DDL:10 (ISO)
        month(d).cast("long").as("month_num"),                // DDL:12
        date_format(d, "MMMM").as("month_name"),              // DDL:13
        quarter(d).cast("long").as("quarter_num"),            // DDL:14
        Derive.quarterLabel(d).as("quarter_label"),           // DW:182-187
        year(d).cast("long").as("year_num"),                  // DDL:15
        Derive.yearMonth(d).as("year_month"),                 // DW:189
        Derive.ytdFlag(d, asOfCol, 0).as("cytd_flag"),        // DW:192
        Derive.ytdFlag(d, asOfCol, 1).as("pytd_flag"),        // DW:193
        Derive.rollingWeekFlag(d, asOfCol, 0).as("cw_flag"),  // DW:194
        Derive.rollingWeekFlag(d, asOfCol, 1).as("pw_flag"),  // DW:195
        Derive.rollingWeekFlag(d, asOfCol, 4).as("w4_flag"),  // DW:196
        Derive.rollingWeekFlag(d, asOfCol, 13).as("w13_flag") // DW:197
      )
  }
}

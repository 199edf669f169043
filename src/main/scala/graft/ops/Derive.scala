package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Derived-attribute expressions (reference:
  * ETLScript_withSCDimplementation.py:31-45 and BikesDWSQl.sql:176-197).
  * Every `getdate()` site is parameterized by `asOf` for determinism
  * (SURVEY §5.5).
  */
object Derive {

  /** The as-of day as a column the optimizer cannot fold. Spark inlines
    * a date literal into the generated Java, so a plan built for a new
    * day compiles new classes; a zero-argument UDF reaches the code
    * through the references array instead, and one day's generated code
    * is identical to the next day's (and served from the codegen cache).
    * `lit`, `typedLit` and a cast of a string are all folded back into a
    * literal. No plan filters on the as-of value, so no pushdown is lost;
    * non-nullable like the literal it replaces, so schemas are unchanged.
    */
  def asOfDay(day: String): Column =
    udf(new Day(java.sql.Date.valueOf(day))).asNonNullable()
      .withName("as_of")()

  /** The function behind [[asOfDay]]. Days compare by value but all hash
    * alike: codegen numbers common subexpressions in hash order, and a
    * lambda's identity hash would reorder them (and so change the code)
    * from one day to the next.
    */
  private final case class Day(d: java.sql.Date)
      extends (() => java.sql.Date) {
    def apply(): java.sql.Date = d
    override def hashCode: Int = classOf[Day].getName.hashCode
  }

  /** Exact floor-age with the birthday-not-yet-reached correction.
    * Reference: tuple-compare UDF (ETLScript_withSCDimplementation.py:31-37).
    * Expressed as `(m*100+d)` scalar compare — pure codegen, no UDF.
    */
  def age(dob: Column, asOf: Column): Column =
    (year(asOf) - year(dob) -
      when(month(asOf) * 100 + dayofmonth(asOf) <
        month(dob) * 100 + dayofmonth(dob), 1).otherwise(0)).cast("long")

  /** Right-closed age buckets, faithful to `pd.cut(bins=[18,30,40,50,60,70,
    * 120], include_lowest=True)` (ETLScript_withSCDimplementation.py:43-45):
    * age 30 → '18-29', 40 → '30-39'; <18 or >120 → null. SURVEY F10.
    */
  def ageRange(age: Column): Column =
    when(age < 18 || age > 120, lit(null))
      .when(age <= 30, "18-29")
      .when(age <= 40, "30-39")
      .when(age <= 50, "40-49")
      .when(age <= 60, "50-59")
      .when(age <= 70, "60-69")
      .otherwise("70+")

  /** 'Q1'..'Q4' label (BikesDWSQl.sql:182-187). */
  def quarterLabel(d: Column): Column =
    concat(lit("Q"), quarter(d).cast("string"))

  /** YYYYMM integer key (BikesDWSQl.sql:189). */
  def yearMonth(d: Column): Column =
    (year(d) * 100 + month(d)).cast("long")

  /** 'Y'/'N' flag: date falls in the as-of year (CYTD, BikesDWSQl.sql:192)
    * or the prior year (PYTD, :193) — `back` = 0 or 1.
    */
  def ytdFlag(d: Column, asOf: Column, back: Int): Column =
    when(year(d) === year(asOf) - back, "Y").otherwise("N")

  /** 'Y'/'N' flag: date is after the start of the week `weeksBack` weeks
    * before asOf. Reference: `Date > DATEADD(DAY, 1-DATEPART(WEEKDAY,a), a)`
    * with a = asOf - 7k (BikesDWSQl.sql:194-197). Start-of-week = the
    * most recent Sunday ≤ anchor (SQL Server default DATEFIRST 7; Spark
    * dayofweek is likewise Sunday=1).
    */
  def rollingWeekFlag(d: Column, asOf: Column, weeksBack: Int): Column = {
    val anchor = date_sub(asOf, weeksBack * 7)
    when(d > date_sub(anchor, dayofweek(anchor) - 1), "Y").otherwise("N")
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source access for the driver testdata (TESTDATA.md): one parquet file
  * per table under `sfDir`. At cluster scale these would be partitioned
  * directories; the API is the same `spark.read.parquet` either way, and
  * Catalyst pushes filters/projections into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Table `name` of `sfDir`. The inputs are immutable — a table
    * changes only by a rewrite, which changes its file's identity — so
    * the schema is inferred on the first read of a session and reused
    * after it ([[SchemaMemo]]): a warm call starts no Spark job.
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else SchemaMemo.parquet(spark, Seq(s"$sfDir/$name.parquet"))

  /** `events.ts` has shipped as two different parquet encodings across
    * testdata generations: TIMESTAMP(NANOS) (which Spark's reader
    * rejects by default — read as a long via the legacy conf, then
    * truncate to microseconds with integer `div 1000`; a double path
    * would lose precision above 2^53 ns) and plain TIMESTAMP(MICROS)
    * (surfaced as TIMESTAMP_NTZ). Normalize both to session-TZ
    * TimestampType at microsecond grain so every downstream query sees
    * one type; the session TZ is pinned to UTC, so the NTZ cast is a
    * pure re-tag of the same micros value. The raw schema is memoized
    * like [[apply]]'s, and the encoding is decided from it.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(SchemaMemo.parquet(spark, Seq(s"$sfDir/events.parquet")))
  }

  /** The `ts` normalization of [[events]] over a raw read. */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame = {
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast("timestamp")
    }
    raw.withColumn("ts", ts)
  }
}

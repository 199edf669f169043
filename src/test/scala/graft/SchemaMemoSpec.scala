package graft

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import graft.sources.{SchemaMemo, Tables, Warehouse}

/** `Tables.apply` and the CAS snapshot reads infer a parquet input's
  * schema once: a repeated read must answer exactly what a plain
  * `spark.read.parquet` answers, start no Spark job, infer again after a
  * rewrite or under other inference confs, and keep the memo bounded.
  */
class SchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def sameRows(got: DataFrame, want: DataFrame, what: String): Unit =
    assert(got.toJSON.collect().sorted.toSeq ==
      want.toJSON.collect().sorted.toSeq, s"$what: rows differ")

  private def sameRead(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema differs")
    sameRows(got, want, what)
  }

  /** A snapshot read twice: the first read infers, the second reuses
    * the schema and must equal it exactly; both hold `want`'s columns
    * and rows (a parquet read makes every column nullable).
    */
  private def twice(read: => DataFrame, want: DataFrame, what: String): Unit = {
    val first = read
    assert(first.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)), s"$what: columns differ")
    sameRows(first, want, what)
    sameRead(read, first, s"$what (memoized)")
  }

  /** Jobs `f` starts on this thread, read from a listener after the bus
    * has delivered every event.
    */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = "memo-" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
          .exists(_.getProperty("graft.memo.probe") == tag))
          jobs.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.memo.probe", tag)
    try {
      val out = f
      GraftTestBus.drain(sc)
      (out, jobs.get)
    } finally {
      sc.setLocalProperty("graft.memo.probe", null)
      sc.removeSparkListener(listener)
    }
  }

  test("every base table read through Tables equals a plain " +
    "spark.read.parquet, on the first read and on the memoized one") {
    Tables.names.foreach { t =>
      val first = Tables(spark, sf, t)
      val again = Tables(spark, sf, t)
      val plain = spark.read.parquet(s"$sf/$t.parquet")
      val want = if (t == "events") Tables.normalizeTs(plain) else plain
      sameRead(first, want, s"$t (first read)")
      sameRead(again, want, s"$t (memoized read)")
    }
  }

  test("CAS snapshots read the same through the memo: REPLACE plus " +
    "appended waves, an evolved snapshot, a tombstoned snapshot and a " +
    "catRead at an older catalog version") {
    val wh = Warehouse(tmpDir("memo-wh-"))
    val base = (1L to 6L).map(k => (k, s"v$k"))
    wh.casOverwrite(base.toDF("k", "v"), "t")
    wh.casAppend(Seq((7L, "v7")).toDF("k", "v"), "t")
    wh.casAppend(Seq((8L, "v8")).toDF("k", "v"), "t")
    val v3 = wh.catCommit(Seq("t" -> wh.casHead("t")))
    val waves = (base ++ Seq((7L, "v7"), (8L, "v8"))).toDF("k", "v")
    twice(wh.casRead(spark, "t"), waves, "replace + waves")

    wh.casAppendEvolved(Seq((9L, "v9", 90L)).toDF("k", "v", "w"), "t")
    val evolved = waves.selectExpr("k", "v", "cast(null as bigint) w")
      .union(Seq((9L, "v9", 90L)).toDF("k", "v", "w"))
    twice(wh.casRead(spark, "t"), evolved, "evolved")

    wh.casDeleteMoR(spark, "t", "k", Seq(2L, 9L).toDF("k"))
    val tombstoned = evolved.where("k not in (2, 9)")
    twice(wh.casRead(spark, "t"), tombstoned, "tombstoned")

    wh.catCommit(Seq("t" -> wh.casHead("t")))
    twice(wh.catRead(spark, "t"), tombstoned, "catRead at head")
    twice(wh.catRead(spark, "t", v3), waves, "catRead at an older version")
  }

  test("the second Tables.apply and the second catRead of one input " +
    "start no Spark job") {
    Tables.names.foreach { t =>
      val (first, _) = jobsOf(Tables(spark, sf, t).schema)
      val (again, jobs) = jobsOf(Tables(spark, sf, t).schema)
      assert(again == first)
      assert(jobs == 0, s"Tables($t) started $jobs jobs when warm")
    }
    val wh = Warehouse(tmpDir("memo-jobs-"))
    wh.casOverwrite((1L to 4L).map(k => (k, k * 10)).toDF("k", "v"), "t")
    wh.casAppendEvolved(Seq((5L, 50L, "x")).toDF("k", "v", "s"), "t")
    wh.casDeleteMoR(spark, "t", "k", Seq(3L).toDF("k"))
    wh.catCommit(Seq("t" -> wh.casHead("t")))
    val (_, cold) = jobsOf(wh.catRead(spark, "t"))
    assert(cold >= 1, "the first catRead inferred no schema")
    val (_, warm) = jobsOf(wh.catRead(spark, "t"))
    assert(warm == 0, s"the second catRead started $warm jobs")
  }

  test("a base table rewritten in place with another schema is " +
    "inferred again, and a session with other parquet-inference confs " +
    "never reuses the base session's schema") {
    val dir = tmpDir("memo-rewrite-")
    Seq((1L, "a")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("k", "v"))
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("k", "v"))
    Seq((2L, 3.5, "b")).toDF("k", "x", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    sameRead(Tables(spark, dir, "t"), spark.read.parquet(s"$dir/t.parquet"),
      "rewritten table")

    // a pandas-written TIMESTAMP(MICROS) column infers as TIMESTAMP_NTZ
    // unless the session turns that inference off
    def orderdate(s: org.apache.spark.sql.SparkSession) =
      Tables(s, sf, "orders").schema("o_orderdate").dataType
    assert(orderdate(spark) == TimestampNTZType)
    val clone = spark.newSession()
    clone.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(orderdate(clone) == TimestampType)
    assert(orderdate(spark) == TimestampNTZType)
    assert(Tables(clone, sf, "orders").count() ==
      Tables(spark, sf, "orders").count())
  }

  test("the memo stays within its cap after more distinct path sets " +
    "than it holds, and an evicted snapshot is inferred again") {
    val wh = Warehouse(tmpDir("memo-cap-"))
    val first = wh.casOverwrite(Seq((0L, 0L)).toDF("k", "v"), "t")
    (1 to SchemaMemo.Cap + 8).foreach { i =>
      wh.casOverwrite(Seq((i.toLong, i * 2L)).toDF("k", "v"), "t")
      assert(wh.casRead(spark, "t").as[(Long, Long)].collect().toSeq ==
        Seq((i.toLong, i * 2L)))
      assert(SchemaMemo.size <= SchemaMemo.Cap,
        s"${SchemaMemo.size} entries after $i overwrites")
    }
    assert(SchemaMemo.size == SchemaMemo.Cap)
    val (evicted, jobs) = jobsOf(wh.casReadAt(spark, "t", first))
    assert(jobs >= 1, "an evicted snapshot was not inferred again")
    assert(evicted.as[(Long, Long)].collect().toSeq == Seq((0L, 0L)))
  }
}

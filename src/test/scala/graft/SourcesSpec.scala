package graft

import java.nio.file.Files
import graft.etl.Schemas
import graft.sources.{Csv, Jdbc, Warehouse}
import org.apache.spark.sql.functions.sum
import graft.ops.Scd

/** I/O layer: CSV with explicit schema + BOM handling (S1), warehouse
  * append/overwrite/merge-overwrite semantics (S4-S6).
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("Csv.read: explicit schema, header, UTF-8 BOM tolerated") {
    val f = Files.createTempFile("graft", ".csv").toFile
    val bom = "﻿"
    val content = bom + "ADDRESSID,CITY,COUNTRY,REGION,POSTALCODE\n" +
      "1,Lyon,France,EMEA,69000\n2,Austin,USA,AMER,73301\n"
    Files.write(f.toPath, content.getBytes("UTF-8"))
    val df = Csv.read(spark, f.getPath, Schemas.address)
    assert(df.count() == 2)
    val r = df.filter($"ADDRESSID" === 1L).head()
    assert(r.getAs[String]("CITY") == "Lyon")
    assert(r.getAs[Long]("POSTALCODE") == 69000L)
  }

  test("Warehouse: append accumulates, overwrite replaces, " +
    "mergeOverwrite survives reading its own target") {
    val root = Files.createTempDirectory("graft-wh").toString
    val wh = Warehouse(root)
    assert(!wh.exists("t"))
    wh.append(Seq((1L, "a")).toDF("k", "v"), "t")
    wh.append(Seq((2L, "b")).toDF("k", "v"), "t")
    assert(wh.read(spark, "t").count() == 2)
    wh.overwrite(Seq((3L, "c")).toDF("k", "v"), "t")
    assert(rows(wh.read(spark, "t")) == Set(Seq(3L, "c")))

    // the self-referential merge: target is an input of the write
    val tgt = wh.read(spark, "t")
    val src = Seq((3L, "c2"), (4L, "d")).toDF("k", "v")
    wh.mergeOverwrite(Scd.scd1Merge(src, tgt, Seq("k"), Seq("v")), "t")
    assert(rows(wh.read(spark, "t")) == Set(Seq(3L, "c2"), Seq(4L, "d")))
  }

  test("Typed datasets + SQL views: typed filter compiles and agrees " +
    "with the spark.sql formulation") {
    import graft.sources.Typed
    val dir = "/root/testdata/sf0.001"
    val typedCount = Typed.orders(spark, dir)
      .filter(o => o.o_orderpriority == "1-URGENT" && o.o_totalprice > 0)
      .count()
    Typed.registerViews(spark, dir)
    val sqlCount = spark.sql(
      "SELECT count(*) FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "AND o_totalprice > 0").head().getLong(0)
    assert(typedCount == sqlCount && typedCount > 0)
  }

  test("saveBucketed: equi-join of two same-bucketed tables runs " +
    "with no shuffle exchange") {
    val root = Files.createTempDirectory("graft-wh3").toString
    val wh = Warehouse(root)
    val a = (1 to 200).map(i => (i.toLong, i * 2.0)).toDF("k", "va")
    val b = (1 to 200).map(i => (i.toLong, s"n$i")).toDF("k", "nb")
    wh.saveBucketed(a, "bkt_a", 4, Seq("k"))
    wh.saveBucketed(b, "bkt_b", 4, Seq("k"))
    try {
      // cloned session (own SQLConf; bucketed tables live in the
      // shared catalog) — the broadcast-disable cannot leak into a
      // concurrently running suite
      val clone = spark.newSession()
      clone.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = clone.table("bkt_a").join(clone.table("bkt_b"),
        Seq("k"))
      assert(joined.count() == 200)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
      ()
    }
  }

  test("appendPartitioned: date-filtered reads prune partitions " +
    "(PartitionFilters in the scan, not data filters)") {
    val root = Files.createTempDirectory("graft-wh2").toString
    val wh = Warehouse(root)
    val fact = Seq(
      ("2024-01-01", 1L, 10.0), ("2024-01-02", 2L, 20.0),
      ("2024-01-03", 3L, 30.0)).toDF("dt", "k", "v")
    wh.appendPartitioned(fact, "fct", Seq("dt"))
    val filtered = wh.read(spark, "fct").filter($"dt" === "2024-01-02")
    assert(filtered.count() == 1)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert("PartitionFilters: \\[[^\\]]*dt[^\\]]*\\]".r
      .findFirstIn(plan).isDefined, plan)
  }

  // ---- JDBC (embedded Derby stands in for the reference's SQL
  // Server; same spark.read.jdbc/write.jdbc path either way) ----

  private val derbyUrl = "jdbc:derby:memory:graftjdbc;create=true"

  test("Jdbc: append + read round-trip, overwrite refreshes in place") {
    val dim = Seq((1L, "road"), (2L, "mountain"), (3L, "touring"))
      .toDF("k", "name")
    Jdbc.append(dim, derbyUrl, "prdct_dim")
    val back = Jdbc.read(spark, derbyUrl, "prdct_dim")
    assert(back.columns.map(_.toLowerCase).toSet == Set("k", "name"))
    assert(rows(back.select($"K".as("k"), $"NAME".as("name"))) ==
      rows(dim))
    // append again = insert-only (S4): rows accumulate
    Jdbc.append(dim.filter($"k" === 1L), derbyUrl, "prdct_dim")
    assert(Jdbc.read(spark, derbyUrl, "prdct_dim").count() == 4)
    // full refresh (S6): target holds exactly the new build
    val rebuilt = Seq((9L, "gravel")).toDF("k", "name")
    Jdbc.overwrite(rebuilt, derbyUrl, "prdct_dim", truncate = false)
    assert(rows(Jdbc.read(spark, derbyUrl, "prdct_dim")
      .select($"K".as("k"), $"NAME".as("name"))) == rows(rebuilt))
  }

  test("Jdbc: filters and column pruning reach the generated SQL; " +
    "partitioned read splits into range queries without row loss") {
    val fact = spark.range(1, 1001).selectExpr("id AS k",
      "CAST(id % 7 AS DOUBLE) AS v")
    Jdbc.overwrite(fact, derbyUrl, "fct", truncate = false)
    val filtered = Jdbc.read(spark, derbyUrl, "fct")
      .filter($"K" > 900).select("K")
    assert(filtered.count() == 100)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.toLowerCase.contains("greaterthan(k,900)"), plan)
    // the partitioned read: 8 range queries, same multiset of rows —
    // including rows outside [lower, upper] (widened edge strides)
    val part = Jdbc.readPartitioned(spark, derbyUrl, "fct",
      "K", 100, 900, 8)
    assert(part.rdd.getNumPartitions == 8)
    assert(part.count() == 1000)
    assert(part.agg(sum($"K")).head().getLong(0) == 500500L)
  }

  test("Jdbc as warehouse: SCD1 merge computed set-based, target " +
    "full-refreshed — the reference's DB round trip without per-row " +
    "UPDATEs") {
    val day1 = Seq((1L, "road", 100.0), (2L, "mtn", 200.0))
      .toDF("bk", "name", "price")
    Jdbc.overwrite(day1, derbyUrl, "scd_dim", truncate = false)
    val delta = Seq((2L, "mtn", 250.0), (3L, "tour", 300.0))
      .toDF("bk", "name", "price")
    val current = Jdbc.read(spark, derbyUrl, "scd_dim")
      .select($"BK".as("bk"), $"NAME".as("name"), $"PRICE".as("price"))
    val merged = Scd.scd1Merge(delta, current, Seq("bk"),
      Seq("name", "price"))
    // merged READS scd_dim — plain overwrite would clear the table
    // before the plan runs; mergeOverwrite stages first
    Jdbc.mergeOverwrite(merged, derbyUrl, "scd_dim", truncate = false)
    val after = Jdbc.read(spark, derbyUrl, "scd_dim")
      .select($"BK".as("bk"), $"NAME".as("name"), $"PRICE".as("price"))
    assert(rows(after) == Set(
      Seq(1L, "road", 100.0), Seq(2L, "mtn", 250.0),
      Seq(3L, "tour", 300.0)))
    // the stage copy must not outlive the merge (every merge would
    // otherwise permanently double the table's footprint)
    val staged = intercept[Exception] {
      Jdbc.read(spark, derbyUrl, "scd_dim_stage").collect()
    }
    assert(staged.getMessage != null)
  }

  test("schema evolution on read: a column added by later appends is " +
    "visible under mergeSchema, null for pre-evolution rows, and " +
    "absent columns never fail the old readers") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-evolve").toString
    val wh = sources.Warehouse(root)
    wh.append(Seq((1L, "a")).toDF("k", "v"), "t")
    // the schema evolves: a later load carries a new quality column
    wh.append(Seq((2L, "b", 0.9)).toDF("k", "v", "q"), "t")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$root/t")
    assert(merged.columns.toSet == Set("k", "v", "q"))
    assert(rows(merged.select("k", "v", "q")) ==
      Set(Seq(1L, "a", null), Seq(2L, "b", 0.9)))
    // an old reader projecting only the original columns still works
    assert(rows(spark.read.option("mergeSchema", "true")
      .parquet(s"$root/t").select("k", "v")) ==
      Set(Seq(1L, "a"), Seq(2L, "b")))
  }

  test("Warehouse.compact: many small append files collapse to the " +
    "size-targeted count, rows identical, no shuffle in the rewrite") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-compact").toString
    val wh = sources.Warehouse(root)
    // 20 tiny appends → ≥ 20 files (one+ per append)
    (1 to 20).foreach { i =>
      wh.append(Seq((i.toLong, s"row$i")).toDF("k", "v"), "t")
    }
    def files() = new java.io.File(s"$root/t").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = rows(wh.read(spark, "t"))
    assert(files() >= 20)
    // no-shuffle claim: the compaction plan is coalesce, not repartition
    val plan = wh.read(spark, "t").coalesce(1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    wh.compact(spark, "t", targetFileBytes = 1L << 30)
    assert(files() == 1, s"expected 1 compacted file, got ${files()}")
    assert(rows(wh.read(spark, "t")) == before)
    // a second compact is a no-op in content and file count
    wh.compact(spark, "t", targetFileBytes = 1L << 30)
    assert(files() == 1 && rows(wh.read(spark, "t")) == before)
    // a hive-partitioned table must be refused, not silently flattened
    wh.appendPartitioned(Seq((1L, "2024")).toDF("k", "y"), "pt", Seq("y"))
    val e = intercept[IllegalArgumentException] { wh.compact(spark, "pt") }
    assert(e.getMessage.contains("partition"))
  }

  test("compactBucketed crash safety, pre-swap: a crash during the " +
    "tmp write leaves the live table untouched — reads stay on the " +
    "old fileset and a re-run completes cleanly") {
    val root = Files.createTempDirectory("graft-cbc1").toString
    val wh = Warehouse(root)
    val base = (1 to 60).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
    try {
      wh.saveBucketed(base, "cbc1", 4, Seq("k"))
      (1 to 2).foreach { j =>
        wh.appendBucketed((1 to 30).map(i => ((j * 100 + i).toLong,
          i * 2.0)).toDF("k", "v"), "cbc1", 4, Seq("k"))
      }
      val before = rows(spark.table("cbc1"))
      // simulate the crash: a half-written tmp dir exists, live intact
      val tmp = new java.io.File(s"$root/cbc1.tmp")
      tmp.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(tmp, "part-halfwritten.parquet").toPath,
        Array[Byte](1, 2, 3))
      // reads see the live fileset, unaffected by the orphan tmp
      assert(rows(wh.read(spark, "cbc1")) == before)
      // the re-run discards the orphan and completes
      wh.compactBucketed(spark, "cbc1", 4, Seq("k"))
      assert(!tmp.exists(), "re-run must consume the orphan tmp")
      assert(rows(spark.table("cbc1")) == before)
      val files = Option(new java.io.File(s"$root/cbc1").listFiles())
        .getOrElse(Array()).count(_.getName.endsWith(".parquet"))
      assert(files == 4, s"expected one file per bucket, got $files")
    } finally {
      spark.sql("DROP TABLE IF EXISTS cbc1"); ()
    }
  }

  test("compactBucketed crash safety, mid-swap: live moved aside and " +
    "the replacement not yet in place — recovery restores the last " +
    "complete copy and a re-run completes with the bucket spec intact") {
    val root = Files.createTempDirectory("graft-cbc2").toString
    val wh = Warehouse(root)
    try {
      wh.saveBucketed((1 to 80).map(i => (i.toLong, s"r$i"))
        .toDF("k", "v"), "cbc2", 4, Seq("k"))
      wh.appendBucketed((81 to 120).map(i => (i.toLong, s"r$i"))
        .toDF("k", "v"), "cbc2", 4, Seq("k"))
      val before = rows(spark.table("cbc2"))
      // simulate the crash INSIDE the swap window: live renamed aside,
      // tmp (the finished compacted copy in a real crash; junk here,
      // which recovery must discard unread) never moved in
      val live = new java.io.File(s"$root/cbc2")
      val old = new java.io.File(s"$root/cbc2.old")
      assert(live.renameTo(old), "test setup: move live aside")
      val tmp = new java.io.File(s"$root/cbc2.tmp")
      tmp.mkdirs()
      new java.io.File(tmp, "part-junk.parquet").createNewFile()
      // recover (run on entry by every store op) restores the last
      // complete copy; the catalog entry's path is unchanged
      wh.recover("cbc2")
      spark.catalog.refreshTable("cbc2")
      assert(!old.exists() && live.exists(),
        "recovery must restore the old copy to the live path")
      assert(rows(spark.table("cbc2")) == before,
        "recovered table must hold the pre-crash rows")
      // the re-run completes: one file per bucket, rows identical,
      // and the crash-junk tmp was discarded, never read
      wh.compactBucketed(spark, "cbc2", 4, Seq("k"))
      assert(rows(spark.table("cbc2")) == before)
      val files = Option(live.listFiles()).getOrElse(Array())
        .count(_.getName.endsWith(".parquet"))
      assert(files == 4, s"expected one file per bucket, got $files")
      assert(!tmp.exists() && !old.exists())
    } finally {
      spark.sql("DROP TABLE IF EXISTS cbc2"); ()
    }
  }
}

package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Q
import graft.etl.Pipeline
import graft.sources.{Tables, Warehouse}
import graft.SessionScratch

/** Round-17 batch: the O(delta) incremental fact path of the catalog
  * daily refresh (q305 — the reference's INSERT-only fact loads,
  * BikesDWSQl.sql:41/75, finally landing as deltas instead of
  * full-table REPLACEs), timestamp time travel over the injected
  * commit clock (q306), the rest of the multi-writer DML surface —
  * copy-on-write UPDATE (q307), ANSI MERGE (q308), atomic CDC apply
  * (q312) — catalog-tier SCD1 at O(changed) (q309), the
  * sort-clustered rewrite (q310), exactly-once streaming MERGE
  * (q311), the incremental tail-read (q313), and the IVM tier built
  * on it (q314 grouped rollup, q315 catalog-consistent publish,
  * q316 delta-join MV, q317 streaming MV). Same determinism policy
  * as [[Extras5]]: integer aggregates only, evidence persisted at
  * setup.
  */
object Extras6 {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** O(DELTA) INCREMENTAL FACTS IN THE CATALOG REFRESH — the
    * reference's fact loads are INSERT-only (`insert into
    * Ordr_Sm_Fct` DW:41, `insert into Ordr_Dtl_Fct` DW:75 — never a
    * truncate), and [[graft.etl.Pipeline.runDailyCat]] now matches
    * that cost shape: day 2's CDC delta lands as ONE casAppend wave
    * per fact (commit-verb evidence: a single `ADD` line at version
    * day1+1) and the catalog pin advances over it via catCommitMax —
    * a day's refresh writes the day's rows, not the table. The
    * oracle states the HEAD fact contents directly from the raw
    * corpus (identical to what the old prior∪delta REPLACE produced —
    * the path changes cost, never content) plus the structural verb
    * evidence.
    *
    * 100 TB shape: this is the difference between O(day) and
    * O(history) daily fact writes; the accumulated daily waves'
    * read fan-in is bounded by the auto-OPTIMIZE hook
    * ([[graft.sources.Warehouse.casOptimize]] every 16th commit).
    */
  val q305 = Q("q305_incremental_fact_delta",
    """SELECT * FROM (
      |  SELECT 'dw_ordr_sm_fct' AS tbl,
      |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n,
      |    CAST(sum(CAST(l_quantity AS BIGINT) * 10) AS BIGINT) AS isum,
      |    CAST(2 AS BIGINT) AS head_ver,
      |    CAST(1 AS BIGINT) AS day2_lines,
      |    'ADD' AS day2_verb
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'dw_ordr_dtl_fct', CAST(count(*) AS BIGINT),
      |    CAST(sum(samt) AS BIGINT), CAST(2 AS BIGINT),
      |    CAST(1 AS BIGINT), 'ADD'
      |  FROM (SELECT l_orderkey, l_partkey % 200 AS pid,
      |      sum(CAST(l_quantity AS BIGINT) * 10) AS samt
      |    FROM lineitem GROUP BY 1, 2) g
      |) t""".stripMargin) { (s, dir) =>
    import s.implicits._
    val wh = Warehouse(
      SessionScratch.dir(s, s"factdelta_${SessionScratch.keyOf(dir)}"))
    val key = s"fact_delta_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      // day 1: even order keys; day 2: the full set — the CDC delta
      Pipeline.runDailyCat(s, wh,
        Extras5.bikesInputs(s, dir, run2 = false), "2019-07-01")
      Pipeline.runDailyCat(s, wh,
        Extras5.bikesInputs(s, dir, run2 = true), "2019-07-02")
      val ev = Seq("dw_ordr_sm_fct", "dw_ordr_dtl_fct").map { tbl =>
        val head = wh.casHead(tbl)
        val lines = scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(new java.io.File(
            new java.io.File(wh.root, tbl + "__log"),
            f"$head%09d.commit").toPath)).asScala.toSeq
          .filterNot(_.startsWith("TS "))
        (tbl, head.toLong, lines.size.toLong,
          lines.head.split(" ", 2)(0))
      }
      wh.overwrite(ev.toDF("tbl", "head_ver", "day2_lines",
        "day2_verb"), "factdelta_evidence")
    }
    val sums = Seq("dw_ordr_sm_fct" -> "Ordr_Amt",
      "dw_ordr_dtl_fct" -> "Sale_Amt").map { case (tbl, c) =>
      val r = wh.catRead(s, tbl)
        .agg(count(lit(1)), coalesce(sum(col(c)), lit(0L))
          .cast("long")).head()
      (tbl, r.getLong(0), r.getLong(1))
    }
    sums.toDF("tbl", "n", "isum")
      .join(wh.read(s, "factdelta_evidence"), Seq("tbl"))
      .select("tbl", "n", "isum", "head_ver", "day2_lines",
        "day2_verb")
  }

  /** TIMESTAMP TIME TRAVEL — `SELECT … TIMESTAMP AS OF` over the
    * monotone `TS` line every commit leads with
    * ([[graft.sources.Warehouse.casReadAsOf]] /
    * [[graft.sources.Warehouse.catVersionAsOf]]): three order waves
    * land under an injected clock (t=1000/2000/3000, each pinned by a
    * catalog transaction at the same instant), and the evidence reads
    * the warehouse at t=2500 — resolution is a BINARY SEARCH over
    * commit timestamps (O(log commits) driver file reads, data
    * untouched), landing on version 2 at both tiers; the head read
    * sees all three waves. The oracle restates both snapshots from
    * the raw corpus; the resolved version numbers ride as structural
    * columns.
    *
    * 100 TB shape: timestamp resolution never scans the log linearly
    * and never touches data; "what did the warehouse look like at
    * 14:05" is answered cross-table-consistently from ONE catalog
    * commit's pin set.
    */
  val q306 = Q("q306_timestamp_time_travel",
    """SELECT * FROM (
      |  SELECT 'asof' AS snap, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |    CAST(2 AS BIGINT) AS ver, CAST(2 AS BIGINT) AS cat_ver
      |  FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |  UNION ALL
      |  SELECT 'head', CAST(count(*) AS BIGINT),
      |    CAST(sum(o_orderkey) AS BIGINT),
      |    CAST(3 AS BIGINT), CAST(3 AS BIGINT)
      |  FROM orders
      |) t""".stripMargin) { (s, dir) =>
    import s.implicits._
    var now = 0L
    val wh = Warehouse(
      SessionScratch.dir(s, s"tstravel_${SessionScratch.keyOf(dir)}"),
      () => now)
    val key = s"ts_travel_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      val o = t(s, dir, "orders").select("o_orderkey")
      Seq(1000L, 2000L, 3000L).zipWithIndex.foreach { case (ts, i) =>
        now = ts
        val v = wh.casAppend(o.filter(col("o_orderkey") % 3 === i),
          "tt_orders")
        wh.catCommit(Seq("tt_orders" -> v))
        ()
      }
    }
    val asofVer = wh.casVersionAsOf("tt_orders", 2500L).toLong
    val catVer = wh.catVersionAsOf(2500L).toLong
    val headVer = wh.casHead("tt_orders").toLong
    val asof = wh.casReadAsOf(s, "tt_orders", 2500L)
      .agg(count(lit(1)), sum("o_orderkey").cast("long")).head()
    val head = wh.catRead(s, "tt_orders")
      .agg(count(lit(1)), sum("o_orderkey").cast("long")).head()
    Seq(
      ("asof", asof.getLong(0), asof.getLong(1), asofVer, catVer),
      ("head", head.getLong(0), head.getLong(1), headVer,
        wh.catHead.toLong))
      .toDF("snap", "n", "key_sum", "ver", "cat_ver")
  }

  /** COPY-ON-WRITE UPDATE with commit-grain extent skipping —
    * [[graft.sources.Warehouse.casUpdateWhere]], the UPDATE member of
    * the DML triangle (q295 is the delete, q300 the range retention):
    * documents land as four stats-carrying quartile waves, the update
    * set is every doc_id divisible by 53 inside the THIRD quartile
    * (`SET n_chars = n_chars + 1000000`), and the update rewrites
    * EXACTLY ONE commit — the other three are retained by reference,
    * directories never opened, stats riding so later consults keep
    * skipping. The oracle re-derives the updated corpus
    * arithmetically; rewritten/retained are structural constants of
    * the quartile construction.
    *
    * 100 TB shape: O(one wave's data) + one tiny commit file — an
    * UPDATE touching 3 of 10,000 waves rewrites 3; no driver-side
    * row loop, no full-table rewrite.
    */
  val q307 = Q("q307_cow_update",
    """WITH q AS (
      |  SELECT CAST(floor((max(doc_id) + 1) / 4) AS BIGINT) AS qs
      |  FROM documents),
      |u AS (
      |  SELECT doc_id FROM documents, q
      |  WHERE doc_id % 53 = 0 AND doc_id >= 2 * qs AND doc_id < 3 * qs)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(n_chars + CASE WHEN doc_id IN (SELECT doc_id FROM u)
      |    THEN 1000000 ELSE 0 END) AS BIGINT) AS chars_sum,
      |  CAST(1 AS BIGINT) AS rewritten,
      |  CAST(3 AS BIGINT) AS retained,
      |  (SELECT CAST(count(*) AS BIGINT) FROM u) AS updated
      |FROM documents""".stripMargin) { (s, dir) =>
    import s.implicits._
    val wh = Warehouse(
      SessionScratch.dir(s, s"cowupd_${SessionScratch.keyOf(dir)}"))
    val key = s"cow_upd_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      val d = t(s, dir, "documents").select("doc_id", "n_chars")
      val maxId = d.agg(max("doc_id")).as[Long].head()
      val qs = (maxId + 1L) / 4L
      Seq((0L, qs), (qs, 2 * qs), (2 * qs, 3 * qs), (3 * qs, maxId + 1))
        .foreach { case (lo, hi) =>
          wh.casAppendStats(s,
            d.filter(col("doc_id") >= lo && col("doc_id") < hi),
            "upd_docs", "doc_id")
        }
      // bounded modulo key set (forget-set grain — the Seq form's
      // documented shape; q302 is the distributed twin)
      val keys = d.filter(col("doc_id") % 53 === 0 &&
        col("doc_id") >= 2 * qs && col("doc_id") < 3 * qs)
        .select("doc_id").as[Long].collect().toSeq
      val st = wh.casUpdateWhere(s, "upd_docs", "doc_id", keys,
        Map("n_chars" -> (col("n_chars") + 1000000L)))
      wh.overwrite(Seq((st.rewrittenCommits.toLong,
        st.retainedCommits.toLong, st.updatedRows))
        .toDF("rewritten", "retained", "updated"), "upd_evidence")
    }
    wh.casRead(s, "upd_docs")
      .agg(count(lit(1)).as("n"),
        sum("doc_id").cast("long").as("id_sum"),
        sum("n_chars").cast("long").as("chars_sum"))
      .crossJoin(wh.read(s, "upd_evidence"))
  }

  /** MULTI-WRITER MERGE — [[graft.sources.Warehouse.casMergeInto]],
    * the upsert completing the CAS DML surface (q295 delete, q300
    * retention, q307 update, MERGE here): documents land as four
    * stats-carrying quartile waves; the merge source UPDATES every
    * doc_id divisible by 43 inside the SECOND quartile (`SET n_chars
    * = -doc_id`) and INSERTS one brand-new row per matched key at
    * doc_id + 1,000,000 — all in ONE commit that rewrites EXACTLY ONE
    * wave (REPLACES), lands the inserts as a SEPARATE tight-extent
    * ADDS line (so the new-key range never widens the rewrite's
    * skip extent), and retains the other three waves by reference.
    * The oracle re-derives the merged corpus arithmetically;
    * rewritten/retained are structural constants of the quartile
    * construction.
    *
    * 100 TB shape: a daily dimension upsert whose changed keys
    * cluster in 3 of 10,000 waves rewrites 3 and appends 1 — the
    * device that makes catalog-tier SCD1 O(changed), not
    * O(dimension). Spec matrix: CasMergeSpec (multiplicity, NULL ON
    * semantics, ANSI duplicate-source rejection, OCC race, MoR
    * tombstone interplay, evolved schemas).
    */
  val q308 = Q("q308_cas_merge",
    """WITH q AS (
      |  SELECT CAST(floor((max(doc_id) + 1) / 4) AS BIGINT) AS qs
      |  FROM documents),
      |m AS (
      |  SELECT doc_id FROM documents, q
      |  WHERE doc_id % 43 = 0 AND doc_id >= qs AND doc_id < 2 * qs),
      |t AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id IN (SELECT doc_id FROM m)
      |      THEN -doc_id ELSE n_chars END AS n_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, doc_id FROM m)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
      |  CAST(1 AS BIGINT) AS rewritten,
      |  CAST(3 AS BIGINT) AS retained,
      |  (SELECT CAST(count(*) AS BIGINT) FROM m) AS updated,
      |  (SELECT CAST(count(*) AS BIGINT) FROM m) AS inserted
      |FROM t""".stripMargin) { (s, dir) =>
    import s.implicits._
    val wh = Warehouse(
      SessionScratch.dir(s, s"casmrg_${SessionScratch.keyOf(dir)}"))
    val key = s"cas_mrg_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      val d = t(s, dir, "documents").select("doc_id", "n_chars")
      val maxId = d.agg(max("doc_id")).as[Long].head()
      val qs = (maxId + 1L) / 4L
      Seq((0L, qs), (qs, 2 * qs), (2 * qs, 3 * qs), (3 * qs, maxId + 1))
        .foreach { case (lo, hi) =>
          wh.casAppendStats(s,
            d.filter(col("doc_id") >= lo && col("doc_id") < hi),
            "mrg_docs", "doc_id")
        }
      val m = d.filter(col("doc_id") % 43 === 0 &&
        col("doc_id") >= qs && col("doc_id") < 2 * qs)
        .select("doc_id")
      val src = m.select(col("doc_id"),
          (-col("doc_id")).cast("long").as("n_chars"))
        .unionByName(m.select((col("doc_id") + 1000000L).as("doc_id"),
          col("doc_id").cast("long").as("n_chars")))
      val st = wh.casMergeInto(s, "mrg_docs", "doc_id", src)
      wh.overwrite(Seq((st.rewrittenCommits.toLong,
        st.retainedCommits.toLong, st.updatedRows, st.insertedRows))
        .toDF("rewritten", "retained", "updated", "inserted"),
        "mrg_evidence")
    }
    wh.casRead(s, "mrg_docs")
      .agg(count(lit(1)).as("n"),
        sum("doc_id").cast("long").as("id_sum"),
        sum("n_chars").cast("long").as("chars_sum"))
      .crossJoin(wh.read(s, "mrg_evidence"))
  }

  /** CATALOG-TIER SCD1 AT O(changed) — the device q307/q308 exist
    * for, end to end: a customer dimension lands on day 1 as four
    * key-quartile stats waves pinned by one catalog commit; day 2's
    * FULL re-extract (the reference's daily CSV drop) mutates one
    * attribute for keys divisible by 97 inside the THIRD quartile and
    * adds brand-new keys (divisible by 211, re-keyed beyond max).
    * [[graft.ops.Scd.scd1Delta]] reduces the extract to exactly the
    * changed∪new rows against the PINNED prior,
    * [[graft.sources.Warehouse.casMergeInto]] lands that delta in one
    * commit — rewriting only the quartile the changes cluster in,
    * retaining the other three by reference, inserting the new keys
    * as a tight-extent ADDS — and `catCommitMax` advances the pin.
    * The oracle restates the day-2 dimension arithmetically; the
    * structural columns pin the O(changed) claim (delta_rows =
    * changed + new, NOT the extract size) and the extent locality
    * (rewritten = 1 of 4).
    *
    * 100 TB shape: the daily dimension refresh writes O(changed keys'
    * waves), not O(dimension) — the full-extract diff costs the same
    * one key-join every SCD1 merge already pays, and the write
    * collapses from the table to the touched extents. This is the
    * layout-dependent win: it needs the dim clustered into bounded
    * key ranges (here the quartile construction; at scale
    * [[graft.sources.Warehouse.casOptimize]]-maintained waves).
    */
  val q309 = Q("q309_catalog_scd1_delta",
    """WITH q AS (
      |  SELECT CAST(floor((max(c_custkey) + 1) / 4) AS BIGINT) AS qs
      |  FROM customer),
      |ch AS (
      |  SELECT c_custkey FROM customer, q
      |  WHERE c_custkey % 97 = 0
      |    AND c_custkey >= 2 * qs AND c_custkey < 3 * qs),
      |nw AS (SELECT c_custkey FROM customer WHERE c_custkey % 211 = 0),
      |fin AS (
      |  SELECT c_custkey AS cust_id,
      |    CAST(c_nationkey AS BIGINT) +
      |      CASE WHEN c_custkey IN (SELECT c_custkey FROM ch)
      |        THEN 100 ELSE 0 END AS nat
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 10000000, CAST(c_nationkey AS BIGINT)
      |  FROM customer WHERE c_custkey % 211 = 0)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cust_id) AS BIGINT) AS id_sum,
      |  CAST(sum(nat) AS BIGINT) AS nat_sum,
      |  CAST(1 AS BIGINT) AS rewritten,
      |  CAST(3 AS BIGINT) AS retained,
      |  (SELECT CAST(count(*) AS BIGINT) FROM ch) +
      |    (SELECT CAST(count(*) AS BIGINT) FROM nw) AS delta_rows,
      |  CAST(2 AS BIGINT) AS cat_ver
      |FROM fin""".stripMargin) { (s, dir) =>
    import s.implicits._
    val wh = Warehouse(
      SessionScratch.dir(s, s"scd1d_${SessionScratch.keyOf(dir)}"))
    val key = s"scd1_delta_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      val c = t(s, dir, "customer")
      val day1 = c.select(col("c_custkey").as("cust_id"),
        col("c_nationkey").cast("long").as("nat"),
        col("c_name").as("nm"))
      val maxId = day1.agg(max("cust_id")).as[Long].head()
      val qs = (maxId + 1L) / 4L
      var v = 0
      Seq((0L, qs), (qs, 2 * qs), (2 * qs, 3 * qs), (3 * qs, maxId + 1))
        .foreach { case (lo, hi) =>
          v = wh.casAppendStats(s,
            day1.filter(col("cust_id") >= lo && col("cust_id") < hi),
            "scd_cust_dim", "cust_id")
        }
      wh.catCommit(Seq("scd_cust_dim" -> v))
      // day 2: the FULL extract again — one attr mutated for the
      // clustered change set, plus brand-new keys beyond max
      val day2 = day1.withColumn("nat",
          when(col("cust_id") % 97 === 0 &&
            col("cust_id") >= 2 * qs && col("cust_id") < 3 * qs,
            col("nat") + 100L).otherwise(col("nat")))
        .unionByName(day1.filter(col("cust_id") % 211 === 0)
          .select((col("cust_id") + 10000000L).as("cust_id"),
            col("nat"), col("nm")))
      val prior = wh.catRead(s, "scd_cust_dim")
      val delta = graft.ops.Scd.scd1Delta(day2, prior,
        Seq("cust_id"), Seq("nat", "nm")).persist()
      val deltaRows = delta.count()
      val st = wh.casMergeInto(s, "scd_cust_dim", "cust_id", delta)
      delta.unpersist()
      val catVer = wh.catCommitMax(Seq("scd_cust_dim" -> st.version))
      wh.overwrite(Seq((st.rewrittenCommits.toLong,
        st.retainedCommits.toLong, deltaRows, catVer.toLong))
        .toDF("rewritten", "retained", "delta_rows", "cat_ver"),
        "scd1d_evidence")
    }
    wh.catRead(s, "scd_cust_dim")
      .agg(count(lit(1)).as("n"),
        sum("cust_id").cast("long").as("id_sum"),
        sum("nat").cast("long").as("nat_sum"))
      .crossJoin(wh.read(s, "scd1d_evidence"))
  }

  /** SORT-CLUSTERED REWRITE — [[graft.sources.Warehouse.casClusterBy]]
    * (Delta's `OPTIMIZE … ZORDER BY` in one dimension): documents
    * land as four INTERLEAVED mod-4 stripes — every wave spans the
    * whole doc_id domain, so the extents exist but skip NOTHING (a
    * point consult opens all four). One cluster pass rewrites the
    * snapshot as four RANGE-DISJOINT sorted waves via a single
    * range-shuffle (the TeraSort shape), after which the same point
    * consult opens exactly ONE wave and a single-key CoW delete
    * rewrites one of four. The oracle restates the corpus (clustering
    * is a layout change, never a content change) minus the one
    * deleted row; kept-before/kept-after/waves/delete-locality ride
    * as structural evidence.
    *
    * 100 TB shape: this is the maintenance operator that keeps q307/
    * q308/q309 extent-local forever — O(table) once, at the cadence
    * layout drift warrants, buying O(one-wave) point consults and
    * O(changed-extent) DML in between.
    */
  val q310 = Q("q310_cluster_rewrite",
    """WITH mid AS (
      |  SELECT CAST(floor(max(doc_id) / 2) AS BIGINT) AS m
      |  FROM documents)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
      |  CAST(4 AS BIGINT) AS kept_before,
      |  CAST(1 AS BIGINT) AS kept_after,
      |  CAST(4 AS BIGINT) AS waves,
      |  CAST(1 AS BIGINT) AS del_rewritten,
      |  CAST(3 AS BIGINT) AS del_retained
      |FROM documents, mid WHERE doc_id <> m""".stripMargin) { (s, dir) =>
    import s.implicits._
    val wh = Warehouse(
      SessionScratch.dir(s, s"clus_${SessionScratch.keyOf(dir)}"))
    val key = s"cluster_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      val d = t(s, dir, "documents").select("doc_id", "n_chars")
      val mid = d.agg((floor(max("doc_id") / 2)).cast("long"))
        .as[Long].head()
      (0 until 4).foreach { w =>
        wh.casAppendStats(s, d.filter(col("doc_id") % 4 === w),
          "clus_docs", "doc_id")
      }
      val keptBefore =
        wh.casPrunedCommits("clus_docs", mid, mid)._1.size
      val st = wh.casClusterBy(s, "clus_docs", "doc_id", 4)
      val keptAfter =
        wh.casPrunedCommits("clus_docs", mid, mid)._1.size
      val del = wh.casDeleteWhere(s, "clus_docs", "doc_id", Seq(mid))
      wh.overwrite(Seq((keptBefore.toLong, keptAfter.toLong,
        st.waves.toLong, del.rewrittenCommits.toLong,
        del.retainedCommits.toLong))
        .toDF("kept_before", "kept_after", "waves", "del_rewritten",
          "del_retained"), "clus_evidence")
    }
    wh.casRead(s, "clus_docs")
      .agg(count(lit(1)).as("n"),
        sum("doc_id").cast("long").as("id_sum"),
        sum("n_chars").cast("long").as("chars_sum"))
      .crossJoin(wh.read(s, "clus_evidence"))
  }

  /** STREAMING MERGE — [[graft.streaming.StreamingEtl.mergeSink]]:
    * a CDC feed of whole-row upserts applied to a multi-writer CAS
    * table, one exactly-once [[graft.sources.Warehouse.casMergeBatch]]
    * per micro-batch. Batch 1 updates first-quartile keys (divisible
    * by 97) and inserts brand-new keys (divisible by 211, re-keyed
    * +2,000,000); batch 2 updates fourth-quartile keys AND the rows
    * batch 1 just inserted — the cross-batch insert-then-update
    * lifecycle a CDC stream actually produces. Each batch rewrites
    * only its extent-hit waves and carries a (stream, batchId) TXN
    * marker, so a crash-replay dedups instead of rolling concurrent
    * writers back (CasMergeSpec pins the real restart). The oracle
    * restates the final corpus arithmetically; the two-commit
    * evidence rides as a structural column.
    *
    * 100 TB shape: per batch O(extent-hit waves + batch) + one
    * metadata commit; the accumulated insert waves are
    * [[graft.sources.Warehouse.casClusterBy]]'s job.
    */
  val q311 = Q("q311_streaming_merge",
    """WITH q AS (
      |  SELECT CAST(floor((max(doc_id) + 1) / 4) AS BIGINT) AS qs
      |  FROM documents),
      |u1 AS (
      |  SELECT doc_id FROM documents, q
      |  WHERE doc_id % 97 = 0 AND doc_id < qs),
      |u2 AS (
      |  SELECT doc_id FROM documents, q
      |  WHERE doc_id % 97 = 0 AND doc_id >= 3 * qs),
      |ins AS (SELECT doc_id FROM documents WHERE doc_id % 211 = 0),
      |fin AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id IN (SELECT doc_id FROM u1) THEN -doc_id
      |         WHEN doc_id IN (SELECT doc_id FROM u2)
      |           THEN -2 * doc_id
      |         ELSE n_chars END AS n_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, 2 * doc_id FROM ins)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
      |  CAST(2 AS BIGINT) AS merge_commits
      |FROM fin""".stripMargin) { (s, dir) =>
    import s.implicits._
    val wh = Warehouse(
      SessionScratch.dir(s, s"smrg_${SessionScratch.keyOf(dir)}"))
    val key = s"stream_mrg_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = s.sqlContext
      val d = t(s, dir, "documents").select("doc_id", "n_chars")
      val maxId = d.agg(max("doc_id")).as[Long].head()
      val qs = (maxId + 1L) / 4L
      Seq((0L, qs), (qs, 2 * qs), (2 * qs, 3 * qs), (3 * qs, maxId + 1))
        .foreach { case (lo, hi) =>
          wh.casAppendStats(s,
            d.filter(col("doc_id") >= lo && col("doc_id") < hi),
            "smrg_docs", "doc_id")
        }
      val head0 = wh.casHead("smrg_docs")
      val ckpt = java.nio.file.Files
        .createTempDirectory("smrg-ckpt-").toString
      val feed = MemoryStream[(Long, Long)]
      def drain(): Unit =
        graft.streaming.StreamingEtl.mergeSink(
          feed.toDF().toDF("doc_id", "n_chars"), wh, "smrg_docs",
          "doc_id", "cdc", ckpt).awaitTermination()
      // test feed: bounded key sets collect to drive MemoryStream
      def ids(f: org.apache.spark.sql.Column): Seq[Long] =
        d.filter(f).select("doc_id").as[Long].collect().toSeq
      val u1 = ids(col("doc_id") % 97 === 0 && col("doc_id") < qs)
      val u2 = ids(col("doc_id") % 97 === 0 && col("doc_id") >= 3 * qs)
      val ins = ids(col("doc_id") % 211 === 0)
      feed.addData(u1.map(k => (k, -k)) ++
        ins.map(k => (k + 2000000L, k)): _*)
      drain()
      feed.addData(u2.map(k => (k, -2 * k)) ++
        ins.map(k => (k + 2000000L, 2 * k)): _*)
      drain()
      wh.overwrite(Seq(Tuple1((wh.casHead("smrg_docs") - head0).toLong))
        .toDF("merge_commits"), "smrg_evidence")
    }
    wh.casRead(s, "smrg_docs")
      .agg(count(lit(1)).as("n"),
        sum("doc_id").cast("long").as("id_sum"),
        sum("n_chars").cast("long").as("chars_sum"))
      .crossJoin(wh.read(s, "smrg_evidence"))
  }

  /** CDC APPLY — [[graft.sources.Warehouse.casApplyCdc]], MERGE with
    * the delete clause: ONE Debezium-shaped change batch (deletes
    * for doc_id%59 in the FOURTH quartile, whole-row updates for
    * doc_id%53 in the SECOND, inserts re-keyed +3,000,000 for
    * doc_id%223) applied atomically — one commit rewrites exactly
    * the two extent-hit quartile waves, retains the other two by
    * reference, and lands the inserts as a tight-extent ADDS; a
    * reader can never observe the batch's inserts without its
    * deletes. The oracle re-derives the post-apply corpus
    * arithmetically; the per-clause row counts and the
    * rewritten/retained split ride as structural evidence.
    * CasCdcSpec pins the corners (absent-key deletes, pure-delete
    * batches, NULL keys, ambiguity rejection, the cdcSink
    * crash-replay dedup).
    *
    * 100 TB shape: replicating a transactional upstream costs
    * O(extent-hit waves + batch) + one commit file per batch — the
    * table-size term is gone, and atomicity needs no cross-commit
    * coordination.
    */
  val q312 = Q("q312_cdc_apply",
    """WITH q AS (
      |  SELECT CAST(floor((max(doc_id) + 1) / 4) AS BIGINT) AS qs
      |  FROM documents),
      |del AS (
      |  SELECT doc_id FROM documents, q
      |  WHERE doc_id % 59 = 0 AND doc_id >= 3 * qs),
      |upd AS (
      |  SELECT doc_id FROM documents, q
      |  WHERE doc_id % 53 = 0 AND doc_id >= qs AND doc_id < 2 * qs),
      |ins AS (SELECT doc_id FROM documents WHERE doc_id % 223 = 0),
      |fin AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id IN (SELECT doc_id FROM upd)
      |      THEN -doc_id ELSE n_chars END AS n_chars
      |  FROM documents
      |  WHERE doc_id NOT IN (SELECT doc_id FROM del)
      |  UNION ALL
      |  SELECT doc_id + 3000000, doc_id FROM ins)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
      |  CAST(2 AS BIGINT) AS rewritten,
      |  CAST(2 AS BIGINT) AS retained,
      |  (SELECT CAST(count(*) AS BIGINT) FROM del) AS deleted,
      |  (SELECT CAST(count(*) AS BIGINT) FROM upd) AS updated,
      |  (SELECT CAST(count(*) AS BIGINT) FROM ins) AS inserted
      |FROM fin""".stripMargin) { (s, dir) =>
    import s.implicits._
    val wh = Warehouse(
      SessionScratch.dir(s, s"cdcap_${SessionScratch.keyOf(dir)}"))
    val key = s"cdc_apply_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      val d = t(s, dir, "documents").select("doc_id", "n_chars")
      val maxId = d.agg(max("doc_id")).as[Long].head()
      val qs = (maxId + 1L) / 4L
      Seq((0L, qs), (qs, 2 * qs), (2 * qs, 3 * qs), (3 * qs, maxId + 1))
        .foreach { case (lo, hi) =>
          wh.casAppendStats(s,
            d.filter(col("doc_id") >= lo && col("doc_id") < hi),
            "cdc_docs", "doc_id")
        }
      val dels = d.filter(col("doc_id") % 59 === 0 &&
        col("doc_id") >= 3 * qs)
        .select(col("doc_id"), lit(0L).as("n_chars"),
          lit("D").as("op"))
      val upds = d.filter(col("doc_id") % 53 === 0 &&
        col("doc_id") >= qs && col("doc_id") < 2 * qs)
        .select(col("doc_id"),
          (-col("doc_id")).cast("long").as("n_chars"),
          lit("U").as("op"))
      val inss = d.filter(col("doc_id") % 223 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          col("doc_id").cast("long").as("n_chars"), lit("I").as("op"))
      val st = wh.casApplyCdc(s, "cdc_docs", "doc_id",
        dels.unionByName(upds).unionByName(inss))
      wh.overwrite(Seq((st.rewrittenCommits.toLong,
        st.retainedCommits.toLong, st.deletedRows, st.updatedRows,
        st.insertedRows))
        .toDF("rewritten", "retained", "deleted", "updated",
          "inserted"), "cdc_evidence")
    }
    wh.casRead(s, "cdc_docs")
      .agg(count(lit(1)).as("n"),
        sum("doc_id").cast("long").as("id_sum"),
        sum("n_chars").cast("long").as("chars_sum"))
      .crossJoin(wh.read(s, "cdc_evidence"))
  }

  /** INCREMENTAL TAIL-READ —
    * [[graft.sources.Warehouse.casChangesSince]]: documents land as
    * three mod-3 append waves; a consumer whose cursor stopped after
    * wave 1 reads EXACTLY waves 2∪3 (O(delta) — the consult is
    * driver file reads over the window, the frame scans only the
    * appended waves). A copy-on-write delete then rewrites history,
    * and the same consult returns the full-refresh signal instead of
    * silently double-counting across the rewrite; the consumer
    * re-derives from the snapshot. The oracle restates the change
    * window and the post-rewrite snapshot arithmetically; the
    * two signal flags ride as structural evidence.
    *
    * 100 TB shape: following a table costs the data that arrived
    * since the cursor, never the table — and a rewrite anywhere in
    * the window is DETECTED, not glossed (the incremental consumer's
    * correctness contract).
    */
  val q313 = Q("q313_incremental_tail_read",
    """SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents
      |   WHERE doc_id % 3 <> 0) AS n_changes,
      |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM documents
      |   WHERE doc_id % 3 <> 0) AS changes_sum,
      |  CAST(1 AS BIGINT) AS incremental,
      |  CAST(0 AS BIGINT) AS post_rewrite_incremental,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents
      |   WHERE doc_id % 101 <> 0) AS n_resync,
      |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM documents
      |   WHERE doc_id % 101 <> 0) AS resync_sum""".stripMargin) {
    (s, dir) =>
    import s.implicits._
    val wh = Warehouse(
      SessionScratch.dir(s, s"tail_${SessionScratch.keyOf(dir)}"))
    val key = s"tail_read_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      val d = t(s, dir, "documents").select("doc_id")
      (0 until 3).foreach { w =>
        wh.casAppendStats(s, d.filter(col("doc_id") % 3 === w),
          "tail_docs", "doc_id")
      }
      val (chg, h1) = wh.casChangesSince(s, "tail_docs", 1)
      val agg = chg.get.agg(count(lit(1)),
        coalesce(sum("doc_id"), lit(0L)).cast("long")).head()
      // bounded modulo forget-set (Seq-form delete; q302 is the
      // distributed twin)
      val delKeys = d.filter(col("doc_id") % 101 === 0)
        .as[Long].collect().toSeq
      wh.casDeleteWhere(s, "tail_docs", "doc_id", delKeys)
      val (post, _) = wh.casChangesSince(s, "tail_docs", h1)
      wh.overwrite(Seq((agg.getLong(0), agg.getLong(1),
        if (chg.isDefined) 1L else 0L,
        if (post.isDefined) 1L else 0L))
        .toDF("n_changes", "changes_sum", "incremental",
          "post_rewrite_incremental"), "tail_evidence")
    }
    wh.casRead(s, "tail_docs")
      .agg(count(lit(1)).as("n_resync"),
        sum("doc_id").cast("long").as("resync_sum"))
      .crossJoin(wh.read(s, "tail_evidence"))
      .select("n_changes", "changes_sum", "incremental",
        "post_rewrite_incremental", "n_resync", "resync_sum")
  }

  /** INCREMENTALLY-MAINTAINED ROLLUP — [[graft.ops.CasIvm]], the
    * round's devices composed: four maintenance runs of a per-group
    * SUM/COUNT rollup over a growing documents table — bootstrap on
    * wave 1, additive landings of ONLY the touched groups' new
    * totals on waves 2 and 3 (the source is never rescanned — the
    * tail-read supplies the delta, the rollup read is
    * group-cardinality small), and — since round 18 — a
    * copy-on-write GDPR delete absorbed INCREMENTALLY too: the
    * retraction-carrying feed
    * ([[graft.sources.Warehouse.casChangesSinceCdf]]) reads only the
    * rewritten waves' row diff and SUBTRACTS it (q318 carries the
    * wave-grain evidence; the refresh degradation now fires only for
    * the genuinely non-diffable — restores, evolution meeting a
    * rewrite; MoR tombstones diff too). The
    * oracle is the plain GROUP BY over the surviving corpus; the
    * four observed maintenance modes ride as structural columns.
    *
    * 100 TB shape: daily rollup maintenance costs O(delta rows +
    * touched groups) even across routine GDPR rewrites, and the
    * non-invertible cases are DETECTED, never assumed.
    */
  val q314 = Q("q314_ivm_tail_rollup",
    """SELECT CAST(doc_id % 7 AS BIGINT) AS g,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_v,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  'bootstrap' AS m1, 'incremental' AS m2,
      |  'incremental' AS m3, 'incremental' AS m4
      |FROM documents WHERE doc_id % 101 <> 0
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val wh = Warehouse(
      SessionScratch.dir(s, s"ivmr_${SessionScratch.keyOf(dir)}"))
    val key = s"ivm_rollup_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 7).as("g"),
          col("n_chars").as("v"))
      def maintain(): String = graft.ops.CasIvm.maintainSumCount(
        s, wh, "ivm_src", "ivm_roll", "g", "v")
      val modes = scala.collection.mutable.ArrayBuffer.empty[String]
      (0 until 3).foreach { w =>
        wh.casAppendStats(s, d.filter(col("doc_id") % 3 === w),
          "ivm_src", "doc_id")
        modes += maintain()
      }
      // bounded modulo forget-set (Seq-form delete; q302 is the
      // distributed twin)
      val delKeys = d.filter(col("doc_id") % 101 === 0)
        .select("doc_id").as[Long].collect().toSeq
      wh.casDeleteWhere(s, "ivm_src", "doc_id", delKeys)
      modes += maintain()
      wh.overwrite(Seq((modes(0), modes(1), modes(2), modes(3)))
        .toDF("m1", "m2", "m3", "m4"), "ivm_evidence")
    }
    wh.casRead(s, "ivm_roll")
      .select(col("g"), col("sum_v"), col("n_rows"))
      .crossJoin(wh.read(s, "ivm_evidence"))
  }

  /** CATALOG-CONSISTENT IVM — [[graft.ops.CasIvm.maintainSumCountCat]]:
    * every maintenance publishes (source@cursor, rollup@version) as
    * ONE catalog transaction, so a catalog reader can never join the
    * rollup against source rows it has not absorbed. The evidence is
    * taken MID-WINDOW: a third wave lands with NO maintenance run —
    * the direct read sees it (documented catalog-vs-direct split),
    * the pinned pair does not, and the rollup equals the pinned
    * source's GROUP BY exactly. The oracle restates the pinned
    * two-wave state and both row counts arithmetically.
    *
    * 100 TB shape: consistency between a fact stream and its derived
    * rollups costs one metadata commit per maintenance — no
    * dual-write window, no read-side reconciliation.
    */
  val q315 = Q("q315_catalog_consistent_ivm",
    """SELECT CAST(doc_id % 7 AS BIGINT) AS g,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_v,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents
      |   WHERE doc_id % 3 <> 2) AS pinned_n,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS direct_n,
      |  'bootstrap' AS m1, 'incremental' AS m2
      |FROM documents WHERE doc_id % 3 <> 2
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val wh = Warehouse(
      SessionScratch.dir(s, s"civm_${SessionScratch.keyOf(dir)}"))
    val key = s"cat_ivm_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 7).as("g"),
          col("n_chars").as("v"))
      def maintain(): String = graft.ops.CasIvm.maintainSumCountCat(
        s, wh, "civ_src", "civ_roll", "g", "v")
      wh.casAppendStats(s, d.filter(col("doc_id") % 3 === 0),
        "civ_src", "doc_id")
      val m1 = maintain()
      wh.casAppendStats(s, d.filter(col("doc_id") % 3 === 1),
        "civ_src", "doc_id")
      val m2 = maintain()
      // the mid-window wave: lands, is NOT maintained — the pinned
      // pair must stay mutually consistent without it
      wh.casAppendStats(s, d.filter(col("doc_id") % 3 === 2),
        "civ_src", "doc_id")
      val pinnedN = wh.catRead(s, "civ_src").count()
      val directN = wh.casRead(s, "civ_src").count()
      wh.overwrite(Seq((pinnedN, directN, m1, m2))
        .toDF("pinned_n", "direct_n", "m1", "m2"), "civ_evidence")
    }
    wh.catRead(s, "civ_roll")
      .select(col("g"), col("sum_v"), col("n_rows"))
      .crossJoin(wh.read(s, "civ_evidence"))
  }

  /** JOIN-MV MAINTENANCE — [[graft.ops.CasIvm.maintainJoin]], the
    * delta-join classic over two tail-read streams: documents (side
    * A) and an even-doc_id attribute table (side B) each land in two
    * waves with a maintenance run between every landing — each
    * window's AFFECTED KEYS (ΔA ∪ ΔB, from the signed feeds) are
    * recomputed from both sides' extent-pruned slivers at the window
    * heads, so every new pair lands exactly once — and a
    * copy-on-write GDPR delete on A stays INCREMENTAL too (r18): the
    * retractions name the affected keys, their pairs leave the MV as
    * op-D rows in the same fenced commit; no rebuild, refresh only
    * for the non-diffable (MoR/restore). Landings carry the packed
    * (headA·2³², headB) cursor pair as a fenced TXN marker — the
    * cursor lives in the MV's own log, so crash replays no-op and
    * concurrent maintainers serialize. The oracle is the plain inner
    * join over the surviving corpus; the four observed modes (no
    * 'refresh' anywhere) ride as structural columns.
    *
    * 100 TB shape: keeping a joined view current costs the affected
    * keys' extent-hit waves per run ([[graft.sources.Warehouse
    * .casReadPrunedAt]]; poisoned-wave spec) — the full sides are
    * never reread, never rewritten.
    */
  val q316 = Q("q316_join_mv_maintain",
    """SELECT doc_id, n_chars, CAST(doc_id % 7 AS BIGINT) AS lb,
      |  'bootstrap' AS m1, 'incremental' AS m2,
      |  'incremental' AS m3, 'incremental' AS m4
      |FROM documents
      |WHERE doc_id % 2 = 0 AND doc_id % 101 <> 0""".stripMargin) {
    (s, dir) =>
    import s.implicits._
    val wh = Warehouse(
      SessionScratch.dir(s, s"jmv_${SessionScratch.keyOf(dir)}"))
    val key = s"join_mv_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      val d = t(s, dir, "documents").select("doc_id", "n_chars")
      val bAll = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), (col("doc_id") % 7).as("lb"))
      def maintain(): String = graft.ops.CasIvm.maintainJoin(
        s, wh, "jmv_a", "jmv_b", "jmv_mv", "doc_id")
      val modes = scala.collection.mutable.ArrayBuffer.empty[String]
      wh.casAppendStats(s, d.filter(col("doc_id") % 3 === 0),
        "jmv_a", "doc_id")
      wh.casAppendStats(s, bAll.filter(col("doc_id") % 5 < 3),
        "jmv_b", "doc_id")
      modes += maintain()
      wh.casAppendStats(s, d.filter(col("doc_id") % 3 =!= 0),
        "jmv_a", "doc_id")
      modes += maintain()
      wh.casAppendStats(s, bAll.filter(col("doc_id") % 5 >= 3),
        "jmv_b", "doc_id")
      modes += maintain()
      // bounded modulo forget-set (Seq-form delete; q302 is the
      // distributed twin)
      val delKeys = d.filter(col("doc_id") % 101 === 0)
        .select("doc_id").as[Long].collect().toSeq
      wh.casDeleteWhere(s, "jmv_a", "doc_id", delKeys)
      modes += maintain()
      wh.overwrite(Seq((modes(0), modes(1), modes(2), modes(3)))
        .toDF("m1", "m2", "m3", "m4"), "jmv_evidence")
    }
    wh.casRead(s, "jmv_mv")
      .select("doc_id", "n_chars", "lb")
      .crossJoin(wh.read(s, "jmv_evidence"))
  }

  /** STREAMING MATERIALIZED VIEW —
    * [[graft.streaming.StreamingEtl.ivmSink]], the round's devices
    * composed end to end one micro-batch at a time: three document
    * waves stream in, each batch landing exactly-once in the
    * source's CAS log (ADDB), absorbed into the per-group rollup by
    * an O(delta) maintenance, and published with ONE catalog pin of
    * (source@cursor, rollup@version) — a catalog reader never sees
    * a batch's rows without their rollup contribution, at any crash
    * point (CasChangesSpec pins the replay matrix). The oracle is
    * the plain GROUP BY over the corpus; the per-batch maintenance
    * modes ride as structural columns.
    *
    * 100 TB shape: a continuously-maintained metric layer costs
    * O(batch + touched groups) per trigger and one metadata pin —
    * the source is never rescanned, and exactly-once composes from
    * the parts instead of being asserted.
    */
  val q317 = Q("q317_streaming_mv",
    """SELECT CAST(doc_id % 7 AS BIGINT) AS g,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_v,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  'bootstrap' AS m1, 'incremental' AS m2,
      |  'incremental' AS m3
      |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val wh = Warehouse(
      SessionScratch.dir(s, s"smv_${SessionScratch.keyOf(dir)}"))
    val key = s"stream_mv_${SessionScratch.keyOf(dir)}"
    SessionScratch.once(s, key) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = s.sqlContext
      val d = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 7).as("g"),
          col("n_chars").as("v"))
      val ckpt = java.nio.file.Files
        .createTempDirectory("smv-ckpt-").toString
      val feed = MemoryStream[(Long, Long, Long)]
      val modes = scala.collection.mutable.ArrayBuffer.empty[String]
      def drain(): Unit =
        graft.streaming.StreamingEtl.ivmSink(
          feed.toDF().toDF("doc_id", "g", "v"), wh, "smv_src",
          "smv_roll", "g", "v", "docs", ckpt,
          m => { modes += m; () }).awaitTermination()
      // test feed: bounded collects drive the MemoryStream
      (0 until 3).foreach { w =>
        feed.addData(d.filter(col("doc_id") % 3 === w)
          .as[(Long, Long, Long)].collect().toSeq: _*)
        drain()
      }
      wh.overwrite(Seq((modes(0), modes(1), modes(2)))
        .toDF("m1", "m2", "m3"), "smv_evidence")
    }
    wh.catRead(s, "smv_roll")
      .select(col("g"), col("sum_v"), col("n_rows"))
      .crossJoin(wh.read(s, "smv_evidence"))
  }

  val all: Seq[Q] = Seq(q305, q306, q307, q308, q309, q310, q311, q312,
    q313, q314, q315, q316, q317)
}

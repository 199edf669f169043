package graft

import org.apache.spark.sql.functions._
import graft.sources.Warehouse

/** Round-17 pins: NULL-safe row deletes (the r16 high advice — a
  * NULL-keyed row is in no forget-set and no range, and must survive
  * every delete form identically), stats discipline under NULL keys
  * (`-` extents whenever min/max would hide rows), the ADDES
  * stats-carrying evolved demotion, copy-on-write UPDATE, timestamp
  * time travel over the injected commit clock, the catTruncate
  * late-tag re-fold, auto-OPTIMIZE wave bounding, and the O(delta)
  * incremental fact path of the catalog daily refresh.
  */
class Round17Spec extends SparkSpec {

  private def tmpWh(): Warehouse = Warehouse(
    java.nio.file.Files.createTempDirectory("r17-wh-").toString)

  private def commitLines(wh: Warehouse, table: String,
      n: Int): Seq[String] = {
    val f = new java.io.File(
      new java.io.File(wh.root, table + "__log"), f"$n%09d.commit")
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(f.toPath)).asScala.toSeq
      .filterNot(_.startsWith("TS ")) // payload view
  }

  // two waves: one carrying NULL keys (gets a '-' extent), one
  // cleanly bounded [50, 59]
  private def nullWaves(wh: Warehouse, t: String): Unit = {
    import spark.implicits._
    wh.casAppendStats(spark,
      Seq((Option(0L), 0L), (Option(5L), 50L),
        (Option.empty[Long], 999L)).toDF("k", "v"), t, "k")
    wh.casAppendStats(spark,
      Seq((Option(50L), 500L), (Option(59L), 590L)).toDF("k", "v"),
      t, "k")
    ()
  }

  test("a wave carrying NULL keys records '-' extents (min/max are " +
    "blind to NULL rows and an extent that hides them is a lie), " +
    "and pruned reads keep it conservatively") {
    val wh = tmpWh()
    nullWaves(wh, "ns")
    assert(commitLines(wh, "ns", 1).head.startsWith("ADDS - - "),
      commitLines(wh, "ns", 1).toString)
    assert(commitLines(wh, "ns", 2).head.startsWith("ADDS 50 59 "))
    // the '-' wave is kept by every pruning consult
    val (kept, total) = wh.casPrunedCommits("ns", 0L, 9L)
    assert(total == 2 && kept.size == 1, s"$kept")
    assert(rows(wh.casReadPruned(spark, "ns", "k", 0L, 9L)).size == 2)
  }

  test("casDeleteWhere retains NULL-keyed rows (null-safe remain " +
    "filter) and classifies/deletes IDENTICALLY to the distributed " +
    "casDeleteWhereKeys form on the same NULL-carrying table") {
    import spark.implicits._
    val whA = tmpWh()
    val whB = tmpWh()
    nullWaves(whA, "gd")
    nullWaves(whB, "gd")
    val sa = whA.casDeleteWhere(spark, "gd", "k", Seq(5L))
    val sb = whB.casDeleteWhereKeys(spark, "gd", "k",
      Seq(5L).toDF("k"))
    assert(sa.deletedRows == 1L && sb.deletedRows == 1L,
      s"exactly the requested key: $sa / $sb")
    assert(sa.rewrittenCommits == 1 && sa.retainedCommits == 1,
      "the bounded wave is provably disjoint and retained")
    assert((sa.rewrittenCommits, sa.retainedCommits) ==
      (sb.rewrittenCommits, sb.retainedCommits))
    val a = rows(whA.casRead(spark, "gd"))
    assert(a == rows(whB.casRead(spark, "gd")),
      "both forms leave the identical snapshot")
    assert(a.size == 4 && a.exists(r => r.head == null),
      s"the NULL-keyed row survived: $a")
  }

  test("casDeleteRange retains NULL-keyed rows: the NULL wave has " +
    "no extent so it lands on the boundary-rewrite path, where the " +
    "null-safe filter keeps rows outside every range") {
    val wh = tmpWh()
    nullWaves(wh, "nr")
    val st = wh.casDeleteRange(spark, "nr", "k", 0L, 100L)
    // bounded wave [50,59] fully inside -> dropped whole (2 rows);
    // '-' wave rewritten, its in-range rows (0, 5) filtered
    assert(st.droppedCommits == 1 && st.rewrittenCommits == 1 &&
      st.deletedRows == 4L, st.toString)
    val left = rows(wh.casRead(spark, "nr"))
    assert(left.size == 1 && left.head.head == null &&
      left.head(1) == 999L, s"only the NULL row survives: $left")
  }

  test("ADDES: a REPLACEE retained by a later delete demotes WITH " +
    "its stats, so disjoint deletes keep skipping it and the " +
    "evolved footer-merge flag survives") {
    import spark.implicits._
    val wh = tmpWh()
    wh.casAppendStats(spark,
      (0L until 25L).toDF("k").withColumn("v", col("k")), "ev", "k")
    wh.casAppendEvolved(
      (50L until 75L).toDF("k").withColumn("v", col("k"))
        .withColumn("extra", lit(7L)), "ev")
    // delete 60: the stat-less evolved wave is affected -> REPLACEE
    // rewrite carrying [50, 74]-ish stats; wave [0,24] retained
    val d1 = wh.casDeleteWhere(spark, "ev", "k", Seq(60L))
    assert(d1.rewrittenCommits == 1 && d1.retainedCommits == 1)
    assert(commitLines(wh, "ev", d1.version)
      .exists(_.startsWith("REPLACEE 50 74 ")),
      commitLines(wh, "ev", d1.version).toString)
    // delete 10: hits only [0,24]; the REPLACEE is provably disjoint
    // and must be RETAINED — demoting to stats-carrying ADDES
    val d2 = wh.casDeleteWhere(spark, "ev", "k", Seq(10L))
    assert(d2.rewrittenCommits == 1 && d2.retainedCommits == 1,
      s"extent skipping must survive the demotion: $d2")
    assert(commitLines(wh, "ev", d2.version)
      .exists(_.startsWith("ADDES 50 74 ")),
      commitLines(wh, "ev", d2.version).toString)
    // a third disjoint delete still skips the ADDES wave
    val d3 = wh.casDeleteWhere(spark, "ev", "k", Seq(20L))
    assert(d3.rewrittenCommits == 1 && d3.retainedCommits == 1,
      s"ADDES keeps pruning: $d3")
    // the evolved column is still visible (ADDES keeps mergeSchema)
    val got = wh.casRead(spark, "ev")
    assert(got.columns.contains("extra"))
    assert(got.filter(col("extra") === 7L).count() == 24L)
    assert(got.count() == 47L, "50 rows - 3 deletes")
  }

  test("casUpdateWhere: SET clauses rewrite ONLY extent-hit commits, " +
    "disjoint waves are retained by reference (paths untouched), " +
    "NULL keys never match, and a no-op publishes nothing") {
    import spark.implicits._
    val wh = tmpWh()
    (0 to 3).foreach { w =>
      val lo = w * 25L
      wh.casAppendStats(spark,
        (lo until lo + 25L).toDF("k").withColumn("v", col("k") * 10L),
        "up", "k")
    }
    wh.casAppendStats(spark,
      Seq((Option.empty[Long], -1L)).toDF("k", "v"), "up", "k")
    val st = wh.casUpdateWhere(spark, "up", "k", Seq(30L, 60L),
      Map("v" -> (col("v") + 100000L)))
    // waves [25,49] and [50,74] hit; [0,24], [75,99] retained; the
    // '-' NULL wave has no extent -> conservatively rewritten
    assert(st.updatedRows == 2L && st.rewrittenCommits == 3 &&
      st.retainedCommits == 2, st.toString)
    val got = wh.casRead(spark, "up")
    assert(got.count() == 101L, "UPDATE never changes cardinality")
    assert(got.filter(col("k") === 30L).head().getLong(1) == 100300L)
    assert(got.filter(col("k") === 60L).head().getLong(1) == 100600L)
    assert(got.filter(col("k") === 10L).head().getLong(1) == 100L)
    assert(got.filter(col("k").isNull).head().getLong(1) == -1L,
      "the NULL-keyed row rides the rewrite unchanged")
    // retained waves: their directories were never replaced
    val verbs = commitLines(wh, "up", st.version)
    assert(verbs.count(_.startsWith("REPLACES ")) == 1 &&
      verbs.count(_.startsWith("ADDS ")) == 2, verbs.toString)
    // no-op: on a fully-bounded table no commit can contain the key
    // -> nothing published ("up" itself holds a '-' NULL wave that is
    // conservatively rewritten even on a miss, by design)
    val wn = tmpWh()
    wn.casAppendStats(spark,
      (0L until 25L).toDF("k").withColumn("v", col("k")), "np", "k")
    val before = wn.casHead("np")
    val noop = wn.casUpdateWhere(spark, "np", "k", Seq(100000L),
      Map("v" -> lit(0L)))
    assert(noop.version == before && noop.rewrittenCommits == 0 &&
      noop.updatedRows == 0L, noop.toString)
    // SET naming an absent column fails loudly
    intercept[IllegalArgumentException](
      wh.casUpdateWhere(spark, "up", "k", Seq(30L),
        Map("nope" -> lit(1L))))
  }

  test("casUpdateWhere: updating the KEY column recomputes the " +
    "rewrite's extent; an evolved snapshot publishes REPLACEE; a " +
    "competitor landing in the CAS seam is recomputed against, " +
    "never lost") {
    import spark.implicits._
    val wh = tmpWh()
    wh.casAppendStats(spark,
      (0L until 25L).toDF("k").withColumn("v", col("k")), "uk", "k")
    val st = wh.casUpdateWhere(spark, "uk", "k", Seq(10L),
      Map("k" -> lit(1000L)))
    assert(st.updatedRows == 1L)
    assert(commitLines(wh, "uk", st.version)
      .exists(_.startsWith("REPLACES 0 1000 ")),
      "extent recomputed from the staged rewrite")
    val d = wh.casDeleteWhere(spark, "uk", "k", Seq(1000L))
    assert(d.deletedRows == 1L, "the moved key is findable")

    // evolved snapshot -> REPLACEE verb
    wh.casAppendEvolved(Seq((3L, 30L, 9L)).toDF("k", "v", "extra"), "uk")
    val se = wh.casUpdateWhere(spark, "uk", "k", Seq(3L),
      Map("v" -> lit(77L)))
    assert(commitLines(wh, "uk", se.version)
      .exists(_.startsWith("REPLACEE ")), "evolved rewrite verb")
    assert(wh.casRead(spark, "uk").filter(col("k") === 3L)
      .head().getLong(1) == 77L)

    // OCC: a competitor append inside the seam survives the retry
    val wh2 = tmpWh()
    wh2.casAppendStats(spark,
      (0L until 10L).toDF("k").withColumn("v", col("k")), "oc", "k")
    var fired = false
    val so = wh2.casUpdateWhere(spark, "oc", "k", Seq(5L),
      Map("v" -> lit(555L)),
      beforeCommit = () => if (!fired) {
        fired = true
        wh2.casAppend(Seq((100L, 1L)).toDF("k", "v"), "oc")
        ()
      })
    assert(fired && so.updatedRows == 1L)
    val oc = rows(wh2.casRead(spark, "oc"))
    assert(oc.contains(Vector(100L, 1L)), "competitor wave survives")
    assert(oc.contains(Vector(5L, 555L)), "update applied")
    assert(oc.size == 11)
  }

  test("timestamp time travel: casReadAsOf/catVersionAsOf resolve by " +
    "binary search over the injected monotone commit clock; a " +
    "backwards clock is clamped; resolving below retention or " +
    "before history fails loudly") {
    import spark.implicits._
    var now = 1000L
    val wh = Warehouse(
      java.nio.file.Files.createTempDirectory("r17-ts-").toString,
      () => now)
    wh.casOverwrite(Seq(1L).toDF("k"), "tt") // v1 @ 1000
    now = 2000L
    wh.casOverwrite(Seq(2L).toDF("k"), "tt") // v2 @ 2000
    now = 3000L
    wh.casOverwrite(Seq(3L).toDF("k"), "tt") // v3 @ 3000
    assert(wh.casVersionAsOf("tt", 1000L) == 1)
    assert(wh.casVersionAsOf("tt", 2500L) == 2)
    assert(wh.casVersionAsOf("tt", 999999L) == 3)
    assert(rows(wh.casReadAsOf(spark, "tt", 2500L)) ==
      Set(Vector(2L)))
    intercept[RuntimeException](wh.casVersionAsOf("tt", 999L))
    // clamp: a clock running backwards cannot reorder the timeline
    now = 500L
    wh.casOverwrite(Seq(4L).toDF("k"), "tt") // v4, TS clamped to 3000
    assert(wh.casVersionAsOf("tt", 3000L) == 4,
      "the clamped commit is the latest at-or-before 3000")
    // catalog tier
    now = 5000L
    wh.catCommit(Seq("tt" -> 1))
    now = 6000L
    wh.catCommit(Seq("tt" -> 3))
    assert(wh.catSnapshot(wh.catVersionAsOf(5500L)) == Map("tt" -> 1))
    assert(rows(wh.catRead(spark, "tt",
      asOf = wh.catVersionAsOf(5500L))) == Set(Vector(1L)))
    assert(wh.catSnapshot(wh.catVersionAsOf(999999L)) == Map("tt" -> 3))
    intercept[RuntimeException](wh.catSnapshot(wh.catVersionAsOf(10L)))
    // retention interop: the resolved snapshot must exist
    now = 7000L
    wh.catTruncate()
    wh.casTruncate("tt")
    val ex = intercept[RuntimeException](
      wh.casReadAsOf(spark, "tt", 1000L))
    assert(ex.getMessage.contains("retired"), ex.getMessage)
  }

  test("catTruncate re-folds when a tag publishes a pre-floor window " +
    "in the fold-to-delete gap: the late tag's table pins enter the " +
    "HSUM chain and per-table retention cannot reclaim what the " +
    "tagged release resolves") {
    import spark.implicits._
    val wh = tmpWh()
    wh.casOverwrite(Seq(1L).toDF("k"), "lt") // v1
    wh.casOverwrite(Seq(2L).toDF("k"), "lt") // v2
    wh.casOverwrite(Seq(3L).toDF("k"), "lt") // v3
    wh.catCommit(Seq("lt" -> 1)) // cat1
    wh.catCheckpoint() //           cat2 (CCKPT)
    wh.catCommit(Seq("lt" -> 2)) // cat3
    wh.catCommit(Seq("lt" -> 3)) // cat4
    var fired = false
    wh.catTruncate(afterFold = () => if (!fired) {
      fired = true
      // the race: a release is tagged at cat3 AFTER the truncation
      // checkpoint folded (its window starts at cat2 < the fold's
      // no-tag floor) — without a re-fold its pin lt@2 never enters
      // an HSUM and table retention would retire v2's window
      wh.catTag("late", 3)
      ()
    })
    assert(fired)
    assert(rows(wh.catReadTag(spark, "lt", "late")) == Set(Vector(2L)))
    // the discriminating step: per-table retention + zero-grace GC
    wh.casTruncate("lt")
    wh.casVacuum("lt", 0L)
    assert(rows(wh.catReadTag(spark, "lt", "late")) == Set(Vector(2L)),
      "the tagged release survives full retention")
  }

  test("auto-OPTIMIZE: 48 bare appends with NO operator call keep " +
    "the active wave count bounded and the contents exact — the " +
    "every-16th-commit casMaybeOptimize hook") {
    import spark.implicits._
    val wh = tmpWh()
    (1 to 48).foreach { i =>
      wh.casAppend(Seq(i.toLong).toDF("k"), "ao")
      ()
    }
    val (_, active) = wh.casPrunedCommits("ao",
      Long.MinValue, Long.MaxValue)
    assert(active <= 31, s"wave count must stay bounded: $active")
    assert(wh.casHistory("ao").exists(_.operation == "REWRITE"),
      "at least one auto-fold happened")
    assert(wh.casRead(spark, "ao").as[Long].collect().toSet ==
      (1L to 48L).toSet, "compaction preserves contents exactly")
  }

  test("runDailyCat lands incremental facts O(delta): day 2's fact " +
    "commits are single ADD waves (the reference's INSERT-only " +
    "loads), never a REPLACE of prior∪delta — and a dead unpinned " +
    "REPLACE on the fact log forces the safe full-rewrite fallback") {
    import spark.implicits._
    def inputs(extraOrder: Boolean): graft.etl.Pipeline.Inputs = {
      val orders = Seq(
        (1L, "AMER", 10L, "Online", 1L, "15-06-2024", 5L, 10L),
        (2L, "AMER", 20L, "Online", 1L, "15-06-2024", 4L, 10L)) ++
        (if (extraOrder)
          Seq((3L, "AMER", 30L, "Offline", 2L, "16-06-2024", 3L, 11L))
        else Nil)
      val items = Seq((11L, "P1", 1L, 10L, 1L), (21L, "P1", 2L, 20L, 2L)) ++
        (if (extraOrder) Seq((31L, "P2", 3L, 30L, 3L)) else Nil)
      graft.etl.Pipeline.Inputs(
        customer = Seq((10L, "Ann", "A", "F", "15-06-1980"),
          (11L, "Bob", "B", "M", "15-06-1981"))
          .toDF("customer_id", "first_name", "last_name", "gender",
            "DOB"),
        address = Seq((1L, "X", "Y", "R1", 9L))
          .toDF("ADDRESSID", "CITY", "COUNTRY", "REGION", "POSTALCODE"),
        businessPartner = Seq((7L, "a@b.c", 1L, "Acme"))
          .toDF("PARTNERID", "EMAILADDRESS", "ADDRESSID", "COMPANYNAME"),
        productCategory = Seq(("C1", "Cat1"))
          .toDF("PRODCATEGORYID", "PRODCATEGORYNAME"),
        product = Seq(("P1", "C1", 7L, 100L), ("P2", "C1", 7L, 200L))
          .toDF("PRODUCTID", "PRODCATEGORYID", "PARTNERID", "PRICE"),
        productDetail = Seq(("P1", "Prod1"), ("P2", "Prod2"))
          .toDF("PRODUCTID", "PRODUCT_NAME"),
        store = Seq((1L, "Ann", 1L, "123"), (2L, "Bob", 1L, "456"))
          .toDF("StoreID", "manager", "AddressID", "phone"),
        salesOrder = orders.toDF("SalesOrderID", "SALESORG",
          "GROSSAMOUNT", "Ordertype", "StoreID", "Date", "RATING",
          "customer_id"),
        salesOrderItems = items.toDF("SalesOrderItemsID", "PRODUCTID",
          "SalesOrderID", "GROSSAMOUNT", "QUANTITY"))
    }
    val wh = tmpWh()
    val (_, vs1) = graft.etl.Pipeline.runDailyCat(spark, wh,
      inputs(extraOrder = false), "2024-06-15")
    val (_, vs2) = graft.etl.Pipeline.runDailyCat(spark, wh,
      inputs(extraOrder = true), "2024-06-16")
    Seq("dw_ordr_sm_fct", "dw_ordr_dtl_fct").foreach { t =>
      val day2 = commitLines(wh, t, vs2(t))
      assert(day2.size == 1 && day2.head.startsWith("ADD "),
        s"$t day 2 must be one delta ADD wave: $day2")
      assert(vs2(t) == vs1(t) + 1, s"$t: exactly one commit per day")
    }
    assert(wh.catRead(spark, "dw_ordr_sm_fct").count() == 3L)
    assert(wh.catRead(spark, "dw_ordr_dtl_fct").count() == 3L)

    // dead unpinned REPLACE on the fact log (a failed refresh's
    // leftover): the fast path must NOT append onto it — the safe
    // fallback derives the full state from the PINNED snapshot
    wh.casOverwrite(wh.catRead(spark, "dw_ordr_sm_fct")
      .limit(1), "dw_ordr_sm_fct")
    val (_, vs3) = graft.etl.Pipeline.runDailyCat(spark, wh,
      inputs(extraOrder = true), "2024-06-17")
    val day3 = commitLines(wh, "dw_ordr_sm_fct", vs3("dw_ordr_sm_fct"))
    assert(day3.size == 1 && day3.head.startsWith("REPLACE "),
      s"fallback must be a full REPLACE from the pinned prior: $day3")
    assert(wh.catRead(spark, "dw_ordr_sm_fct").count() == 3L,
      "the dead wave's content never leaks into the pinned state")
  }

  test("catTags: an EXISTING but unparseable tag file stays a loud " +
    "error (corruption is never skipped); delete+retag works") {
    import spark.implicits._
    val wh = tmpWh()
    wh.casAppend(Seq(1L).toDF("k"), "tg")
    wh.catCommit(Seq("tg" -> 1))
    wh.catTag("r1")
    assert(wh.catTags() == Map("r1" -> 1))
    val bad = new java.io.File(
      new java.io.File(wh.root, "__catalog__tags"), "bad.tag")
    java.nio.file.Files.write(bad.toPath, Array.emptyByteArray)
    val ex = intercept[RuntimeException](wh.catTags())
    assert(ex.getMessage.contains("unreadable"), ex.getMessage)
    java.nio.file.Files.delete(bad.toPath)
    assert(wh.catDeleteTag("r1") && wh.catTags().isEmpty)
    wh.catTag("r1", 1)
    assert(wh.catTags() == Map("r1" -> 1))
  }
}

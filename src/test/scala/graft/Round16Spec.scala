package graft

import org.apache.spark.sql.functions._
import graft.sources.Warehouse

/** Round-16 pins: the E2E daily refresh as one catalog transaction
  * (runDailyCat both-or-neither across all 16 tables), the monotone
  * concurrent pin advance (catCommitMax / catTxnBatch own-version
  * pins), the checkpointed O(since-checkpoint) retention consult
  * (HSUM/HPIN), the casVacuum-vs-casTruncate race guard, poison-pin
  * loudness + dead-pin exclusion, and the graph early-exit
  * equivalences.
  */
class Round16Spec extends SparkSpec {

  private def tmpWh(): Warehouse = Warehouse(
    java.nio.file.Files.createTempDirectory("r16-wh-").toString)

  private def catFile(wh: Warehouse, n: Int): java.io.File =
    new java.io.File(
      new java.io.File(wh.root, "__catalog__log"), f"$n%09d.commit")

  // ---- catCommitMax ------------------------------------------------

  test("catCommitMax: a concurrent transaction publishing inside the " +
    "CAS seam is merged, not regressed — pins advance monotonically " +
    "under the interleave raw catCommit loses") {
    import spark.implicits._
    val wh = tmpWh()
    val d1 = wh.casAppend(Seq(1L).toDF("k"), "d")
    val r1 = wh.casAppend(Seq(10L).toDF("k"), "r")
    var fired = false
    // writer B's complete transaction lands inside A's seam: B's
    // pins (d@2, r@2) publish first; A requested (d@1, r@1) and must
    // merge UP to B's, never regress them
    wh.catCommitMax(Seq("d" -> d1, "r" -> r1), beforeCommit = () =>
      if (!fired) {
        fired = true
        val d2 = wh.casAppend(Seq(2L).toDF("k"), "d")
        val r2 = wh.casAppend(Seq(20L).toDF("k"), "r")
        wh.catCommitMax(Seq("d" -> d2, "r" -> r2))
        ()
      })
    assert(wh.catSnapshot() == Map("d" -> 2, "r" -> 2),
      s"A must carry B's pins forward: ${wh.catSnapshot()}")
    assert(wh.catRead(spark, "d").as[Long].collect().toSet ==
      Set(1L, 2L))
    assert(wh.catRead(spark, "r").as[Long].collect().toSet ==
      Set(10L, 20L))
  }

  test("catCommitMax under 8 REAL threads: every transaction lands, " +
    "the final catalog pins are the per-table maxima, and both " +
    "tables resolve complete — monotone advance under true " +
    "parallelism, not just seam-injected interleaves") {
    import spark.implicits._
    val wh = tmpWh()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        try {
          val dv = wh.casAppend(Seq(i.toLong).toDF("k"), "cc_d",
            retries = 64)
          val rv = wh.casAppend(Seq(i * 10L).toDF("k"), "cc_r",
            retries = 64)
          wh.catCommitMax(Seq("cc_d" -> dv, "cc_r" -> rv), retries = 64)
          ()
        } catch { case t: Throwable => err.compareAndSet(null, t); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(err.get() == null, s"a writer died: ${err.get()}")
    assert(wh.catHead == 8, "every transaction published")
    // the writer of version 8's pin landed SOMEWHERE in the chain;
    // every later merge carries it forward — the final snapshot must
    // be the maxima whatever the thread schedule
    assert(wh.catSnapshot() == Map("cc_d" -> 8, "cc_r" -> 8),
      s"pins must converge to the maxima: ${wh.catSnapshot()}")
    assert(wh.catRead(spark, "cc_d").as[Long].collect().toSet ==
      (1L to 8L).toSet)
    assert(wh.catRead(spark, "cc_r").as[Long].collect().toSet ==
      (1L to 8L).map(_ * 10L).toSet)
  }

  test("catTxnBatch pins its OWN landed version, not the raw head: a " +
    "concurrent writer's detail landing between our appends and our " +
    "pin stays invisible through the catalog until that writer pins") {
    import spark.implicits._
    val wh = tmpWh()
    val w1 = Seq(("web", "en"), ("web", "en"), ("books", "de"))
      .toDF("source", "lang")
    graft.streaming.StreamingEtl.catTxnBatch(wh, w1, 1L, "d", "r", "s")
    val w2 = Seq(("web", "de")).toDF("source", "lang")
    // the concurrent writer's detail wave lands INSIDE our
    // detail-to-pin window — the head-pin form would publish it
    // without its rollup; the own-version pin must not
    graft.streaming.StreamingEtl.catTxnBatch(wh, w2, 2L, "d", "r", "s",
      beforeRollup = () => {
        wh.casAppend(
          Seq(("news", "fr", 99L)).toDF("source", "lang", "n"), "d")
        ()
      })
    val detail = wh.catRead(spark, "d").groupBy("source")
      .agg(sum("n").as("n")).as[(String, Long)].collect().toMap
    assert(!detail.contains("news"),
      s"the foreign unpinned wave leaked through the catalog: $detail")
    assert(detail == Map("web" -> 3L, "books" -> 1L))
    // the rollup side must carry exactly the same batches
    val rollup = wh.catRead(spark, "r").groupBy("source")
      .agg(sum("src_n").as("n")).as[(String, Long)].collect().toMap
    assert(rollup == detail,
      s"detail $detail and rollup $rollup must describe the same batches")
  }

  test("casBatchVersion: resolves the ADDB commit directly, and a " +
    "checkpointed batch resolves to the checkpoint that summarizes it") {
    import spark.implicits._
    val wh = tmpWh()
    val v1 = wh.casAppendBatch(Seq(1L).toDF("k"), "t", "s", 5L).get
    assert(wh.casBatchVersion("t", "s", 5L).contains(v1))
    assert(wh.casBatchVersion("t", "s", 6L).isEmpty)
    // checkpoint folds the ADDB into a TXN summary; resolution moves
    // to the checkpoint version (whose snapshot contains the rows)
    val ck = wh.casCheckpoint("t")
    wh.casTruncate("t")
    assert(wh.casBatchVersion("t", "s", 5L).exists(_ >= ck),
      s"post-truncation the batch resolves at/after the checkpoint " +
        s"$ck: ${wh.casBatchVersion("t", "s", 5L)}")
    assert(wh.casBatchVersion("t", "s", 6L).isEmpty,
      "a never-committed batch must not resolve through the summary")
  }

  test("catTxnSink crash between the two appends, REAL restart from " +
    "the streaming checkpoint: the replay dedups the landed detail, " +
    "lands the missing rollup, and pins both — exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh = tmpWh()
    val ckpt = java.nio.file.Files
      .createTempDirectory("r16-ckpt-").toString
    val input = MemoryStream[(String, String)]
    input.addData(("web", "en"), ("web", "en"), ("books", "de"))
    // run 1 crashes in the window between detail and rollup
    val crashed = graft.streaming.StreamingEtl.catTxnSink(
      input.toDF().toDF("source", "lang"), wh, "d", "r", "s", ckpt,
      beforeRollup = () => sys.error("injected crash between appends"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crashed.awaitTermination()
    }
    assert(wh.casHead("d") == 1 && wh.casHead("r") == 0,
      "crash shape: detail landed, rollup did not")
    assert(wh.catHead == 0, "no pin may exist for the half-landed batch")
    // restart from the SAME checkpoint: Structured Streaming
    // re-delivers the uncommitted batch; the sink must dedup the
    // landed half and complete the transaction
    graft.streaming.StreamingEtl.catTxnSink(
      input.toDF().toDF("source", "lang"), wh, "d", "r", "s", ckpt)
      .awaitTermination()
    val detail = wh.catRead(spark, "d").groupBy("source", "lang")
      .agg(sum("n")).as[(String, String, Long)].collect().toSet
    assert(detail == Set(("web", "en", 2L), ("books", "de", 1L)),
      s"exactly one landed copy after the replay: $detail")
    val rollup = wh.catRead(spark, "r").groupBy("source")
      .agg(sum("src_n")).as[(String, Long)].collect().toSet
    assert(rollup == Set(("web", 2L), ("books", 1L)))
    assert(wh.casHead("d") == 1,
      "the replayed detail must dedup, not land a second copy")
  }

  // ---- HSUM/HPIN: bounded retention consult ------------------------

  test("catPinnedVersions answers from the checkpoint's HPIN summary " +
    "alone: with every pre-checkpoint catalog commit DELETED, all " +
    "historical pins stay protected — truncation clamps and vacuum " +
    "sweeps nothing") {
    import spark.implicits._
    val wh = tmpWh()
    (0L to 2L).foreach { i =>
      val v = wh.casAppend(Seq(i).toDF("k"), "t")
      wh.catCommit(Seq("t" -> v))
    }
    val ck = wh.catCheckpoint()
    assert(commitHasHsum(wh, ck), "new checkpoints must carry HSUM")
    (1 until ck).foreach(n => assert(catFile(wh, n).delete()))
    assert(wh.catPinnedVersions("t").toSet == Set(1, 2, 3),
      s"HPIN summary must protect every live pin: " +
        s"${wh.catPinnedVersions("t")}")
    // the oldest pin's window starts at commit 1: nothing may go
    assert(wh.casTruncate("t") == 0)
    assert(wh.casVacuum("t", minAgeMs = 0L).isEmpty)
    assert(wh.catRead(spark, "t", asOf = ck).as[Long].collect()
      .toSet == Set(0L, 1L, 2L))
  }

  private def commitHasHsum(wh: Warehouse, n: Int): Boolean = {
    val src = scala.io.Source.fromFile(catFile(wh, n))
    try src.getLines().contains("HSUM") finally src.close()
  }

  test("legacy (pre-HSUM) catalog checkpoints do NOT stop the pin " +
    "scan: history below them still lives in raw commits, and " +
    "trusting a summary that was never written would lose those " +
    "pins' protection") {
    import spark.implicits._
    val wh = tmpWh()
    val v1 = wh.casAppend(Seq(1L).toDF("k"), "t")
    val v2 = wh.casAppend(Seq(2L).toDF("k"), "t")
    wh.catCommit(Seq("t" -> v1))
    // a LEGACY checkpoint: folded map only (latest pin), no HSUM, no
    // HPIN — written by hand the way the pre-upgrade code wrote it
    val f = catFile(wh, 2)
    java.nio.file.Files.write(f.toPath,
      s"CCKPT\nPIN t $v2\n".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    assert(wh.catPinnedVersions("t").toSet == Set(v1, v2),
      "the t@1 pin below the legacy checkpoint must stay protected: " +
        s"${wh.catPinnedVersions("t")}")
    // and retention honors it: nothing below t@1's window goes
    assert(wh.casTruncate("t") == 0)
  }

  test("catTruncate's checkpoint carries the PIN MAP alone as its " +
    "summary: dead-snapshot pins stop protecting data the moment it " +
    "publishes, while an ordinary catCheckpoint preserves them") {
    import spark.implicits._
    val wh = tmpWh()
    val v1 = wh.casAppend(Seq(1L).toDF("k"), "t")
    wh.catCommit(Seq("t" -> v1))
    val v2 = wh.casReplace(spark, "t")(c => c.filter(col("k") < 0L))
    wh.catCommit(Seq("t" -> v2))
    // ordinary checkpoint: t@1 (held only by catalog version 1)
    // survives in the HPIN summary
    wh.catCheckpoint()
    assert(wh.catPinnedVersions("t").toSet == Set(1, 2))
    // truncation: catalog history below dies, and with it the t@1 pin
    wh.catTruncate()
    assert(wh.catPinnedVersions("t").toSet == Set(2),
      s"dead catalog history must release its pins: " +
        s"${wh.catPinnedVersions("t")}")
    assert(wh.casTruncate("t") == 1,
      "v1's replay window is now retirable")
    assert(wh.casVacuum("t", minAgeMs = 0L).size == 1,
      "the wave only the dead pin kept alive is reclaimed")
  }

  // ---- poison-pin TOCTOU: loud at the committer, never wedging -----

  test("catCommit TOCTOU vs casTruncate: a pin whose window a " +
    "concurrent truncation retired fails LOUDLY post-publish, and " +
    "every later consult (pins, vacuum, retention) excludes the dead " +
    "pin instead of wedging") {
    import spark.implicits._
    val wh = tmpWh()
    (0L to 2L).foreach(i => wh.casAppend(Seq(i).toDF("k"), "t"))
    wh.casReplace(spark, "t")(c => c.filter(col("k") > 0L))
    var fired = false
    val e = intercept[RuntimeException] {
      // the truncation runs AFTER catCommit's fail-fast validation
      // passed (the beforeCommit seam is exactly that window) — the
      // pin publishes, then the post-publish re-validation screams
      wh.catCommit(Seq("t" -> 2), beforeCommit = () =>
        if (!fired) { fired = true; wh.casTruncate("t"); () })
    }
    assert(e.getMessage.contains("concurrently truncated"),
      s"poison pin must be loud at the committer: ${e.getMessage}")
    assert(wh.catHead == 1, "the poison pin file exists (published)")
    // nothing downstream wedges: the dead pin is excluded everywhere
    assert(wh.catPinnedVersions("t").isEmpty,
      s"dead pin must not protect: ${wh.catPinnedVersions("t")}")
    wh.casVacuum("t", minAgeMs = 0L)
    assert(wh.casRead(spark, "t").as[Long].collect().toSet ==
      Set(1L, 2L), "live data survives vacuum after the poison pin")
    // and the table stays pinnable: a fresh transaction heals it
    wh.catCommit(Seq("t" -> wh.casHead("t")))
    assert(wh.catRead(spark, "t").as[Long].collect().toSet ==
      Set(1L, 2L))
  }

  test("casVacuum under concurrent casTruncate churn: the re-list " +
    "guard never lets a mid-scan commit deletion shrink the " +
    "reference set — live data survives every interleave") {
    import spark.implicits._
    val wh = tmpWh()
    val want = (0L to 3L).map { i =>
      wh.casAppend(Seq(i).toDF("k"), "hammer"); i
    }.toSet
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val truncator = new Thread(() => {
      try {
        while (!stop.get()) { wh.casTruncate("hammer"); () }
      } catch { case t: Throwable => err.set(t) }
    })
    truncator.start()
    try {
      (1 to 30).foreach { _ =>
        // under nonstop churn the guard may legitimately give up
        // LOUDLY after its re-list budget — acceptable (and asserted
        // distinct from silent shrink); anything else propagates
        try { wh.casVacuum("hammer", minAgeMs = 0L); () }
        catch {
          case e: RuntimeException
            if e.getMessage.contains("kept vanishing") => ()
        }
      }
    } finally {
      stop.set(true)
      truncator.join(30000)
    }
    assert(err.get() == null, s"truncator died: ${err.get()}")
    assert(wh.casRead(spark, "hammer").as[Long].collect().toSet ==
      want, "live data must survive vacuum×truncate churn")
  }

  // ---- graph early-exit equivalence --------------------------------

  test("kcoreAlive/bfsHops: convergence early-exit output is " +
    "IDENTICAL to the full unroll (the fixpoint argument holds on " +
    "the real graph)") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val kFast = queries.Extras3.kcoreAlive(spark, sf, rounds = 6)
      .as[(Long, Long)].collect().toSet
    val kFull = queries.Extras3.kcoreAlive(spark, sf, rounds = 6,
      earlyExit = false).as[(Long, Long)].collect().toSet
    assert(kFast == kFull, "k-core early-exit must not change the core")
    val bFast = queries.Extras3.bfsHops(spark, sf, rounds = 6)
      .as[(Long, Long)].collect().toSet
    val bFull = queries.Extras3.bfsHops(spark, sf, rounds = 6,
      earlyExit = false).as[(Long, Long)].collect().toSet
    assert(bFast == bFull, "BFS early-exit must not change the ball")
  }

  // ---- runDailyCat: the E2E refresh as one transaction -------------

  private def bikes(last10: String, priceBX: Long,
      extraOrder: Boolean): graft.etl.Pipeline.Inputs =
    BikesDays.inputs(spark, last10, priceBX, extraOrder)

  test("runDailyCat: a catalog reader inside run 2's " +
    "stage-to-catalog-CAS window sees run 1's COMPLETE warehouse " +
    "for ALL 16 tables (both-or-neither), and the pinned flip " +
    "carries the SCD1/SCD2/CDC semantics of the single-writer form") {
    import spark.implicits._
    val wh = tmpWh()
    val (cat1, vs1) = graft.etl.Pipeline.runDailyCat(spark, wh,
      bikes("Medendorp@@", 100L, extraOrder = false), "2024-06-15")
    assert(vs1.keySet == graft.etl.Pipeline.allTables.toSet,
      s"one pin per written table: ${vs1.keySet}")
    val run1 = graft.etl.Pipeline.allTables.map(t =>
      t -> rows(wh.catRead(spark, t))).toMap

    var seamChecked = false
    val (cat2, _) = graft.etl.Pipeline.runDailyCat(spark, wh,
      bikes("Smith", 120L, extraOrder = true), "2024-06-16",
      beforeCommit = () => {
        // every run-2 REPLACE has landed; the pin has not: the
        // catalog must still serve run 1's warehouse, table for table
        graft.etl.Pipeline.allTables.foreach { t =>
          assert(rows(wh.catRead(spark, t)) == run1(t),
            s"mid-refresh reader saw run-2 state for $t")
        }
        seamChecked = true
      })
    assert(seamChecked && cat2 == cat1 + 1)

    // after the flip: SCD1 overwrote in place
    val c10 = wh.catRead(spark, "ods_customer")
      .filter($"customer_id" === 10L)
    assert(c10.count() == 1 &&
      c10.head().getAs[String]("last_name") == "Smith")
    // SCD2: expired old + fresh current version
    val bx = wh.catRead(spark, "ods_product_hist")
      .filter($"PRODUCTID" === "BX-1001").orderBy("current_flag")
      .collect()
    assert(bx.length == 2)
    assert(bx(0).getAs[Long]("current_flag") == 0L &&
      bx(0).getAs[Long]("PRICE") == 100L)
    assert(bx(1).getAs[Long]("current_flag") == 1L &&
      bx(1).getAs[Long]("PRICE") == 120L)
    // CDC: exactly the new order appended at both grains
    assert(wh.catRead(spark, "dw_ordr_sm_fct").count() == 4)
    assert(wh.catRead(spark, "dw_ordr_dtl_fct").count() == 5)
    // dims refreshed behind the same flip
    assert(wh.catRead(spark, "dw_prdct_dim")
      .filter($"Prdct_ID" === "BX-1001").head()
      .getAs[Long]("Prc_Amt") == 120L)

    // run 3 (identical input): nothing moves semantically
    graft.etl.Pipeline.runDailyCat(spark, wh,
      bikes("Smith", 120L, extraOrder = true), "2024-06-17")
    assert(wh.catRead(spark, "dw_ordr_sm_fct").count() == 4)
    assert(wh.catRead(spark, "ods_product_hist").count() == 3)
  }

  // (rows, sum of xxhash64 over every column) of each table after the
  // two-day sequence, recorded from the serial single-writer refresh
  // this catalog-transactional one replaced (both gave these values)
  private val twoDayContent: Map[String, (Long, Long)] = Map(
      "ods_customer" -> ((2L, 3511297836057254909L)),
      "ods_address" -> ((1L, -1060069362474670895L)),
      "ods_business_partner" -> ((1L, 8559401733019254908L)),
      "ods_product_category" -> ((2L, 2198146294691401245L)),
      "ods_product_detail" -> ((2L, 1467740774295818929L)),
      "ods_store" -> ((2L, -5421247532710413723L)),
      "ods_sales_order" -> ((4L, -430436962880489622L)),
      "ods_sales_order_items" -> ((5L, -8729233033361743632L)),
      "ods_product_hist" -> ((3L, -2444335013407430109L)),
      "dw_prdct_sm_fct" -> ((4L, 5860460442794223592L)),
      "dw_ordr_sm_fct" -> ((4L, 4998882991627083355L)),
      "dw_ordr_dtl_fct" -> ((5L, 6519088010566684987L)),
      "dw_cust_dim" -> ((2L, -7109158277093762286L)),
      "dw_str_dim" -> ((2L, -2307010834518663081L)),
      "dw_prdct_dim" -> ((2L, 47531282210833173L)),
      "dw_act_perd_dim" -> ((1096L, -898539861598522766L)))

  test("runDailyCat content after two days: every one of the 16 " +
    "tables holds exactly the rows the single-writer refresh wrote — " +
    "the transaction changes visibility, never content") {
    import spark.implicits._
    val wh = tmpWh()
    Seq(("Medendorp@@", 100L, false, "2024-06-15"),
      ("Smith", 120L, true, "2024-06-16")).foreach {
      case (nm, px, extra, day) =>
        graft.etl.Pipeline.runDailyCat(spark, wh, bikes(nm, px, extra),
          day)
        ()
    }
    assert(twoDayContent.keySet == graft.etl.Pipeline.allTables.toSet)
    graft.etl.Pipeline.allTables.foreach { t =>
      val df = wh.catRead(spark, t)
      val hashSum = df.select(xxhash64(df.columns.toSeq.map(col): _*))
        .as[Long].collect().sum
      assert((df.count(), hashSum) == twoDayContent(t),
        s"$t diverged from the single-writer refresh's content")
    }
  }

  test("runDailyCat: a failing constraint gate leaves the CATALOG " +
    "untouched — readers keep the previous complete warehouse, " +
    "staged REPLACEs stay unpinned dead versions") {
    import spark.implicits._
    val wh = tmpWh()
    graft.etl.Pipeline.runDailyCat(spark, wh,
      bikes("Medendorp@@", 100L, extraOrder = false), "2024-06-15")
    val before = wh.catSnapshot()
    val run1Addr = rows(wh.catRead(spark, "ods_address"))
    val dirty = bikes("Smith", 120L, extraOrder = true).copy(
      address = Seq((1L, "Lyon", "France", "EMEA", 69000L),
        (1L, "Paris", "France", "EMEA", 75000L))
        .toDF("ADDRESSID", "CITY", "COUNTRY", "REGION", "POSTALCODE"))
    val e = intercept[IllegalStateException] {
      graft.etl.Pipeline.runDailyCat(spark, wh, dirty, "2024-06-16")
    }
    assert(e.getMessage.contains("ods_address") &&
      e.getMessage.contains("duplicate"))
    assert(wh.catSnapshot() == before,
      "the failed refresh must not move a single pin")
    assert(rows(wh.catRead(spark, "ods_address")) == run1Addr)
  }
}

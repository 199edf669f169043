package graft

import org.apache.spark.sql.functions._
import graft.ops.Approx
import graft.sim.Similarity
import graft.sources.Warehouse
import graft.text.TextOps

/** Round-3 additions: load-time constraint checks, corpus-sized IVF,
  * wide SimHash, heavy-hitter candidate routing, bench error capture.
  */
class Round3Spec extends SparkSpec {
  import spark.implicits._

  // ---- Warehouse.checkConstraints ----

  test("checkConstraints passes a clean frame through unchanged") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Warehouse.checkConstraints(df, "t", Seq("id")).count() == 2)
  }

  test("checkConstraints rejects duplicate primary keys") {
    val df = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v")
    val e = intercept[IllegalStateException] {
      Warehouse.checkConstraints(df, "ods_x", Seq("id"))
    }
    assert(e.getMessage.contains("ods_x") &&
      e.getMessage.contains("duplicate"))
  }

  test("checkConstraints rejects null keys and null NOT NULL attrs") {
    val withNullKey = Seq((Some(1L), "a"), (None, "b"))
      .toDF("id", "v")
    intercept[IllegalStateException] {
      Warehouse.checkConstraints(withNullKey, "t", Seq("id"))
    }
    val withNullAttr = Seq((1L, Some("a")), (2L, None)).toDF("id", "v")
    intercept[IllegalStateException] {
      Warehouse.checkConstraints(withNullAttr, "t", Seq("id"), Seq("v"))
    }
    // nullable column NOT in the constraint set is fine
    assert(Warehouse.checkConstraints(withNullAttr, "t", Seq("id"))
      .count() == 2)
  }

  test("checkConstraints passes an EMPTY batch (no rows violate nothing)") {
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    assert(Warehouse.checkConstraints(empty, "t", Seq("id"), Seq("v"))
      .count() == 0)
  }

  test("checkConstraints on a composite key") {
    val df = Seq((1L, 1L, "x"), (1L, 2L, "y")).toDF("a", "b", "v")
    assert(Warehouse.checkConstraints(df, "t", Seq("a", "b"))
      .count() == 2)
    val dup = df.unionAll(Seq((1L, 2L, "z")).toDF("a", "b", "v"))
    intercept[IllegalStateException] {
      Warehouse.checkConstraints(dup, "t", Seq("a", "b"))
    }
  }

  // ---- Warehouse.constraintGate: the same gate inside casOverwrite ----

  /** Publishes `df` through the folded gate and checks it against
    * [[Warehouse.checkConstraints]]: the same exception text on a
    * violation, then no head move and no staged directory left; the
    * rows landed otherwise. Returns the violation's message, if any.
    */
  private def viaGate(df: org.apache.spark.sql.DataFrame, table: String,
      keys: Seq[String], notNull: Seq[String] = Nil): Option[String] = {
    val wh = Warehouse(
      java.nio.file.Files.createTempDirectory("gate-").toString)
    val data = new java.io.File(wh.root, table + "__data")
    val expected = scala.util.Try(
      Warehouse.checkConstraints(df, table, keys, notNull))
      .failed.toOption.map(_.asInstanceOf[IllegalStateException].getMessage)
    val (gated, check) = Warehouse.constraintGate(df, table, keys, notNull)
    val got = scala.util.Try(wh.casOverwrite(gated, table, validate = check))
    got.failed.foreach(e => assert(e.isInstanceOf[IllegalStateException],
      s"$table: ${e.getClass}"))
    assert(got.failed.toOption.map(_.getMessage) == expected)
    if (expected.isDefined) {
      assert(wh.casHead(table) == 0, s"$table: the head moved")
      assert(Option(data.list()).forall(_.isEmpty),
        s"$table: staged directory left behind")
    } else {
      assert(got.get == 1)
      assert(rows(wh.casRead(spark, table)) == rows(df))
    }
    expected
  }

  test("constraintGate in casOverwrite passes a clean frame") {
    assert(viaGate(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t",
      Seq("id")).isEmpty)
  }

  test("constraintGate in casOverwrite rejects duplicate primary keys") {
    val df = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v")
    assert(viaGate(df, "ods_x", Seq("id")).contains(
      "ods_x: primary key (id) has 1 duplicate row(s) " +
        "(3 rows, 2 distinct keys)"))
  }

  test("constraintGate in casOverwrite rejects null keys and null " +
    "NOT NULL attrs") {
    val withNullKey = Seq((Some(1L), "a"), (None, "b")).toDF("id", "v")
    assert(viaGate(withNullKey, "t", Seq("id"))
      .contains("t: 1 row(s) violate NOT NULL on (id)"))
    val withNullAttr = Seq((1L, Some("a")), (2L, None)).toDF("id", "v")
    assert(viaGate(withNullAttr, "t", Seq("id"), Seq("v"))
      .contains("t: 1 row(s) violate NOT NULL on (id, v)"))
    assert(viaGate(withNullAttr, "t", Seq("id")).isEmpty)
  }

  test("constraintGate in casOverwrite passes an EMPTY batch") {
    assert(viaGate(Seq.empty[(Long, String)].toDF("id", "v"), "t",
      Seq("id"), Seq("v")).isEmpty)
  }

  test("constraintGate in casOverwrite on a composite key") {
    val df = Seq((1L, 1L, "x"), (1L, 2L, "y")).toDF("a", "b", "v")
    assert(viaGate(df, "t", Seq("a", "b")).isEmpty)
    val dup = df.unionAll(Seq((1L, 2L, "z")).toDF("a", "b", "v"))
    assert(viaGate(dup, "t", Seq("a", "b")).contains(
      "t: primary key (a, b) has 1 duplicate row(s) " +
        "(3 rows, 2 distinct keys)"))
  }

  // ---- Approx.heavyHitters: margin + broadcast candidate routing ----

  test("heavyHitters at tiny support (broadcast-join path) is exact") {
    val words = (1 to 1500).map(i => s"u$i") ++ Seq.fill(400)("hot")
    val df = words.toDF("w")
    // support 1e-4 → candidate space 10k > maxInList default → the
    // candidates are broadcast-joined, never inlined or collected
    val hh = Approx.heavyHitters(df, "w", 1e-4)
    val exact = df.groupBy("w").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" > words.size * 1e-4)
    assert(rows(hh) == rows(exact))
  }

  test("heavyHitters non-integral support keeps the superset guarantee") {
    // n=1000, support 0.03: threshold 30; 'edge' appears 31 times,
    // inside the (support·n, n/floor(1/support)] window a 33-counter
    // sketch may drop — the margin (1/ceil(1/support) = 1/34) covers it
    val words = (1 to 969).map(i => s"u$i") ++ Seq.fill(31)("edge")
    val hh = Approx.heavyHitters(words.toDF("w"), "w", 0.03)
    assert(rows(hh) == Set(Seq[Any]("edge", 31L)))
  }

  // ---- IVF sizing + broadcast-centroid assignment ----

  test("cellsFor sizes the cell count to the corpus") {
    assert(Similarity.cellsFor(500L, 64) == 8)
    assert(Similarity.cellsFor(64L, 64) == 1)
    assert(Similarity.cellsFor(10000000000L, 4096) == 2441407)
    // expected cell occupancy stays ≤ targetCell
    for (n <- Seq(1000L, 100000L, 10000000L))
      assert(n.toDouble / Similarity.cellsFor(n, 256) <= 256.0)
  }

  test("ivfAssign matches brute-force argmax with lowest-cid ties") {
    val dim = 4
    val k = 3
    val cent = Similarity.centroidTable(spark, k, dim)
    val cents = cent.orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, -1f, 2f, 0.5f)),
      (3L, Seq(-1f, -1f, -1f, -1f)), (4L, Seq(0f, 0f, 0f, 0f)))
    val e = vecs.toDF("vec_id", "embedding")
      .withColumn("nrm", lit(1.0))
    val got = Similarity.ivfAssign(e, cent)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val want = vecs.map { case (id, v) =>
      val dots = cents.map { case (cid, c) =>
        (BigDecimal(v.zip(c).map { case (a, b) => a.toDouble * b.toDouble }
          .sum).setScale(6, BigDecimal.RoundingMode.HALF_EVEN), cid)
      }
      // max dot, ties to lowest cid
      id -> dots.maxBy(t => (t._1, -t._2))._2
    }.toMap
    assert(got == want)
  }

  test("ivfProbes returns nProbe distinct cells per query") {
    val cent = Similarity.centroidTable(spark, 4, 4)
    val q = Seq((1L, Seq(1f, 2f, 3f, 4f)), (2L, Seq(-1f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding").withColumn("nrm", lit(1.0))
    val probes = Similarity.ivfProbes(q, cent, 2)
      .select("vec_id", "cid").as[(Long, Long)].collect()
    assert(probes.length == 4)
    assert(probes.groupBy(_._1).forall { case (_, cs) =>
      cs.map(_._2).distinct.length == 2 })
  }

  test("centroidTable components are the planeComponent half-integers") {
    val row = Similarity.centroidTable(spark, 2, 8)
      .filter($"cid" === 2L).select("ce").as[Seq[Float]].head()
    assert(row == (1 to 8).map(i =>
      Similarity.planeComponent(101, i).toFloat))
  }

  // ---- wide SimHash (q49 index) ----

  test("simhash is deterministic, bounded, and width-checked") {
    val df = Seq("the quick brown fox", "the quick brown fox",
      "a different document").toDF("t")
    val sigs = df.select(TextOps.simhash($"t", 60)).as[Long].collect()
    assert(sigs(0) == sigs(1)) // same text, same signature
    assert(sigs.forall(s => s >= 0L && s < (1L << 60)))
    intercept[IllegalArgumentException] {
      Seq("x").toDF("t").select(TextOps.simhash($"t", 61)).collect()
    }
  }

  test("simhash(16) stays within 16 bits and differs across texts") {
    val sigs = Seq("alpha beta gamma", "delta epsilon zeta")
      .toDF("t").select(TextOps.simhash($"t", 16)).as[Long].collect()
    assert(sigs.forall(s => s >= 0L && s < (1L << 16)))
    assert(sigs(0) != sigs(1))
  }

  // ---- NearDup.simhashCandidates unit semantics ----

  test("simhashCandidates: hamming pairs found, hot buckets excluded") {
    // ids 1,2 identical; 3 differs by one bit in block 1 (still shares
    // band 0); 4 differs by 10 bits (over maxHamming); ids 100+ are a
    // 30-doc hot cluster whose every bucket exceeds the cap
    val rows = Seq(1L -> 5L, 2L -> 5L, 3L -> (5L | (1L << 20)),
      4L -> (5L | (0x3FFL << 30))) ++ (100L to 129L).map(_ -> 7L)
    val sig = rows.toDF("doc_id", "sh")
    val out = graft.text.NearDup
      .simhashCandidates(sig, 4, 15, 8, 20, 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  // ---- native signature expressions ≡ their HOF specs ----

  private val hashSamples = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a a a repeated tokens a a",
    "short",
    "",
    "double  space and trailing ",
    "unicode tøkens mixed ascii ünïcode")

  test("SimhashF equals the TextOps.simhash HOF spec") {
    for (bits <- Seq(16, 60)) {
      val rows = hashSamples.toDF("t")
        .select(TextOps.simhash($"t", bits).as("spec"),
          graft.functions.TextHashF.simhash($"t", bits).as("native"))
        .collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"simhash($bits) mismatch on a sample"))
    }
  }

  test("MinhashSigF equals the nested-HOF signature spec") {
    val spec = transform(sequence(lit(0), lit(5)), seed =>
      array_min(transform(TextOps.shinglePositions($"t", 8, 4),
        i => md5(concat(seed.cast("string"), lit(":"),
          $"t".substr(i, lit(8)))))))
    val rows = hashSamples.toDF("t")
      .select(spec.as("spec"),
        graft.functions.TextHashF.minhashSig($"t", 8, 4, 6).as("native"))
      .as[(Seq[String], Seq[String])].collect()
    rows.foreach { case (a, b) => assert(a == b) }
  }

  test("ShingleSetF equals the TextOps.shingleSet HOF spec") {
    val rows = hashSamples.toDF("t")
      .select(TextOps.shingleSet($"t", 4, 1).as("spec"),
        graft.functions.TextHashF.shingleSet($"t", 4, 1).as("native"))
      .as[(Seq[String], Seq[String])].collect()
    rows.foreach { case (a, b) => assert(a == b) }
  }

  // ---- multimodal frame sampling + payload pruning ----

  test("sampleFrames: stride sampling with md5 frame fingerprints") {
    val docs = Seq((1L, "a" * 600, "web", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val media = graft.multimodal.Multimodal.asMediaTable(docs)
    val out = graft.multimodal.Multimodal.sampleFrames(media, 2)
      .orderBy("frame_idx").collect()
    // 600 bytes → frames 0,1,2 (600/256+1); stride 2 keeps 0 and 2
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 2L))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0).getString(2) == md5hex("a" * 256))
    // last frame is the 88-byte tail, not a full 256
    assert(out(1).getString(2) == md5hex("a" * 88))
  }

  test("sampleFrames: exact-multiple payload has NO phantom empty frame") {
    val docs = Seq((1L, "b" * 512, "web", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val media = graft.multimodal.Multimodal.asMediaTable(docs)
    val out = graft.multimodal.Multimodal.sampleFrames(media, 1)
      .orderBy("frame_idx").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 1L)) // ceil(512/256)=2
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert(out.forall(_.getString(2) != emptyMd5))
    assert(graft.multimodal.Multimodal.frameCount(0) == 1) // empty = 1 frame
  }

  test("media parquet: metadata-only query prunes the payload column") {
    val dir = java.nio.file.Files.createTempDirectory("graft-media")
      .toString
    val docs = Seq((1L, "hello world", "web", "en"),
      (2L, "more text", "books", "en"))
      .toDF("doc_id", "text", "source", "lang")
    graft.multimodal.Multimodal.asMediaTable(docs).write
      .mode("overwrite").parquet(dir)
    val metaOnly = spark.read.parquet(dir)
      .groupBy("modality").agg(sum($"meta.n_bytes").as("bytes"))
    val plan = metaOnly.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("payload"),
      "metadata aggregate must not read the payload column")
    assert(metaOnly.count() == 2)
  }

  // ---- plan-hygiene regression: the scale properties PLANS.md
  //      documents, locked in as tests (sf0.001 testdata, read-only)

  private val sf = "/root/testdata/sf0.001"

  test("plan hygiene: map-only queries never exchange") {
    import graft.queries.{MultimodalQueries => M, SimQueries => Si,
      TextQueries => T}
    val mapOnly = Seq(T.q29, T.q32, T.q34, T.q36, T.q50, T.q52, T.q53,
      M.q40, M.q56, M.q287, Si.q60)
    for (q <- mapOnly) {
      val plan = q.fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"${q.name} must stay map-only but its plan has an Exchange")
    }
  }

  test("plan hygiene: q51 dedup is exactly one shuffle on the fingerprint") {
    val plan = graft.queries.TextQueries.q51.fn(spark, sf)
      .queryExecution.executedPlan.toString
    val n = plan.sliding("Exchange".length).count(_ == "Exchange")
    assert(n == 1, s"expected 1 Exchange, plan has $n")
    assert(plan.contains("hashpartitioning(fp"))
  }

  test("plan hygiene: q48 assigns cells via a broadcast centroid join") {
    val plan = graft.queries.SimQueries.q48.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "centroid assignment must broadcast the centroid table")
    assert(plan.contains("BroadcastHashJoin"),
      "probe ⋈ assigned-cells must broadcast the probe side")
  }

  // ---- Bench error capture ----

  test("Bench.run records per-query errors instead of swallowing them") {
    val ok = Q.noOracle("ok")((s, _) => {
      import s.implicits._; Seq(1, 2).toDF("x") })
    val boom = Q.noOracle("boom")((_, _) =>
      throw new RuntimeException("deliberate failure"))
    val res = Bench.run(spark, "/unused", Seq(ok, boom))
    assert(res.map(_.name) == Seq("ok", "boom"))
    assert(res(0).err.isEmpty && res(0).sec >= 0)
    assert(res(1).sec == -1.0 &&
      res(1).err.exists(_.contains("deliberate failure")))
  }
}

package graft

import org.apache.spark.sql.functions._

/** Round-9 hardening: corpus-derived quantizer sizing for the
  * semantic-dedup entry point (the round-8 verdict's "statically
  * pinned K" finding), pinned both as a pure derivation and by
  * driving the sized operator at two corpus sizes.
  */
class Round9Spec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("semanticDedupSized: the quantizer derivation is corpus-" +
    "driven — K tracks n at two synthetic corpus sizes while the " +
    "expected cell stays at targetCell") {
    import graft.sim.Similarity
    // the oracle corpus: 500 vectors -> the exact quantizer q128's
    // static SQL pins
    assert(Similarity.sizedQuantizer(500L, 64, 16) == ((8, 2)))
    // a 64x corpus: K grows proportionally (expected cell constant),
    // planes unchanged (they size the WITHIN-cell bucket, which is
    // corpus-independent by construction)
    assert(Similarity.sizedQuantizer(32000L, 64, 16) == ((500, 2)))
    // production order of magnitude from the cellsFor scaladoc
    assert(Similarity.sizedQuantizer(10000000000L, 4096, 64)._1 ==
      math.ceil(1e10 / 4096).toInt)
  }

  test("semanticDedupSized: driven at two corpus sizes, the derived " +
    "quantizer actually widens with the corpus (cells beyond the " +
    "base-K range get populated) and the decision-table invariants " +
    "hold at both") {
    import graft.sim.Similarity
    val e1 = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val n1 = e1.count()
    // 4 key-shifted copies: same device as ScaleSmoke — the corpus
    // grows, the vector space keeps its planted duplicate structure
    val stride = n1 * 10
    val e4 = (0 until 4).map(i => e1.select(
        ($"vec_id" + lit(i * stride)).as("vec_id"), $"embedding"))
      .reduce(_ union _)
    val (k1, p1) = Similarity.sizedQuantizer(n1, 64, 16)
    val (k4, p4) = Similarity.sizedQuantizer(4 * n1, 64, 16)
    assert(k4 == 4 * k1, "K must scale with the corpus")
    assert(p1 == p4, "planes size the within-cell bucket; constant")
    def check(d: Array[org.apache.spark.sql.Row], k: Int,
        n: Long): Unit = {
      assert(d.nonEmpty, "planted duplicates must yield components")
      d.foreach { r =>
        assert(r.getLong(2) >= 2, "component below pair size")
        assert(r.getLong(0) <= r.getLong(3), "keeper below comp min")
        assert(r.getLong(1) >= 1 && r.getLong(1) <= k,
          s"cell ${r.getLong(1)} outside the derived 1..$k")
      }
      assert(d.map(_.getLong(2)).sum <= n,
        "components disjoint; members cannot exceed corpus")
    }
    val d1 = Similarity.semanticDedupSized(e1, 64, 16, 64, 40, 0.2,
      s"semdedup_r9:$sf:f1").collect()
    check(d1, k1, n1)
    val d4 = Similarity.semanticDedupSized(e4, 64, 16, 64, 40, 0.2,
      s"semdedup_r9:$sf:f4").collect()
    check(d4, k4, 4 * n1)
    // the wider quantizer is REAL: with 4x the cells, some components
    // live in cells the base quantizer does not have
    assert(d4.map(_.getLong(1)).max > k1,
      s"4x corpus never populated a cell beyond the base K=$k1 — " +
        "sizing did not widen the quantizer")
  }

  test("q158: IVF-routed decontam ≡ q129's broadcast-scored output " +
    "row for row, and the scoring join is a cell-keyed shuffle-hash " +
    "join (per-task bench slice), not a bench broadcast") {
    val routed = queries.SimQueries.q158.fn(spark, sf)
    assert(rows(routed) == rows(queries.SimQueries.q129.fn(spark, sf)),
      "full-probe routing must reproduce the broadcast scoring exactly")
    val plan = routed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ShuffledHashJoin"),
      s"bench must meet the corpus through a shuffle-hash join:\n$plan")
  }

  test("semanticDecontamRouted: below full probe, per-vector maxima " +
    "are bounded by the exact ones (probe-miss recall is the only " +
    "failure mode — never a wrong pair score)") {
    import graft.sim.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding",
        Similarity.norm($"embedding").as("nrm"))
    val bench = e.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("bid"), $"embedding".as("be"),
        $"nrm".as("bn"))
    val corp = e.filter($"vec_id" % 10 =!= 0)
    val cent = Similarity.centroidTable(spark, 8, 64)
    def maxima(nProbe: Int): Map[Long, Option[Double]] =
      Similarity.semanticDecontamRouted(corp, bench, cent, nProbe)
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val exact = maxima(8)
    val one = maxima(1)
    assert(exact.keySet == one.keySet, "one row per corpus vector")
    assert(exact.values.forall(_.isDefined),
      "full probe with a nonempty bench set leaves no vector unscored")
    one.foreach { case (id, m) =>
      m.foreach(v => assert(v <= exact(id).get + 1e-12,
        s"vector $id: nProbe=1 max $v exceeds the exact max"))
    }
    // nProbe=1 is a genuine subset on this corpus: at least one
    // vector's top bench match lives outside its first probe cell
    assert(one.exists { case (id, m) =>
      m.isEmpty || m.get < exact(id).get },
      "nProbe=1 reproduced every exact max — the probe knob is a no-op")
  }

  test("hot-gram skew (q114/q115/q132/q138 shape): AQE splits the " +
    "hot partition only when the dup-gram set feeds the semi-join " +
    "through a bare shuffle; the in-plan aggregate shape gets NO " +
    "adaptive help — pinned, with the salted semi-join as the " +
    "defense that works for both shapes") {
    // the gram-membership semi-join's skew exposure, isolated and
    // MEASURED (this test was written expecting "AQE handles it" and
    // found the truth more specific). The layered defenses:
    //  (a) the gram AGGREGATE is always safe — partial aggregation
    //      collapses a hot gram to one row per map partition;
    //  (b) at bench scale the dup-gram set BROADCASTS (no probe-side
    //      shuffle on gram at all);
    //  (c) past broadcast, AQE's OptimizeSkewedJoin only pattern-
    //      matches SMJ children that are BARE SHUFFLES: it splits the
    //      hot partition when the dup-gram set is read back from a
    //      store (flat scan -> shuffle), but the single-plan shape —
    //      dup set computed by an aggregate whose output partitioning
    //      feeds the join directly — gets NO adaptive skew handling;
    //  (d) ops/Skew.saltedJoin (extended to left_semi on the back of
    //      this finding) spreads the hot gram regardless of shape.
    // Synthetic corpus: 8000 docs x 20 grams, one gram at 10/20
    // positions of half the docs, an md5 payload so partition BYTES
    // reflect the row skew (detection is byte-based on compressed map
    // output; constant-string-only hot rows compress below the
    // detection median).
    val clone = spark.newSession()
    clone.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    clone.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    clone.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "1.0")
    clone.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "1KB")
    clone.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "1KB")
    // 64 partitions thin the uniform background to ~2.5k rows each
    // while the hot partition keeps its ~42k — the Zipfian picture
    clone.conf.set("spark.sql.shuffle.partitions", "64")
    val pc = clone.range(8000).select(col("id").as("doc_id"))
      .select(col("doc_id"),
        explode(sequence(lit(1), lit(20))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(":", col("doc_id"), col("pos"))).as("payload"),
        when(col("doc_id") % 2 === 0 && col("pos") <= 10, lit("HOT"))
          .otherwise(concat_ws("_", col("doc_id") % 700, col("pos")))
          .as("gram"))
    val b = pc.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gram")
    // independent membership recomputation shared by all three forms
    val expected = {
      val rows = pc.collect().map(r => (r.getLong(0), r.getString(3)))
      val dup = rows.groupBy(_._2)
        .filter(_._2.map(_._1).distinct.size >= 2).keySet
      rows.count(r => dup(r._2)).toLong
    }
    // (c-1) single-plan shape: aggregate feeds the join — correct
    // results, but NO adaptive skew split (execute m itself so the
    // final adaptive plan is readable)
    val m = pc.join(b, Seq("gram"), "left_semi")
    assert(m.collect().length.toLong == expected,
      "in-plan semi-join membership wrong")
    val inPlan = m.queryExecution.executedPlan.toString
    assert(inPlan.contains("SortMergeJoin") && inPlan.contains("LeftSemi"),
      s"beyond-broadcast shape must be a left-semi SMJ:\n$inPlan")
    assert(!inPlan.contains("skew"),
      "AQE split the aggregate-fed semi-join — it has learned a " +
        "shape it could not optimize when this was pinned; revisit " +
        "the salting advice in ops/Skew and PLANS.md:\n" + inPlan)
    // (c-2) store-backed shape: the dup-gram set materialized and
    // read back flat — AQE DOES split the hot partition
    val store = java.nio.file.Files
      .createTempDirectory("graft-skew9").toString + "/grams"
    b.write.mode("overwrite").parquet(store)
    val m2 = pc.join(clone.read.parquet(store), Seq("gram"), "left_semi")
    assert(m2.collect().length.toLong == expected,
      "store-backed semi-join membership wrong")
    val flat = m2.queryExecution.executedPlan.toString
    assert(flat.contains("skew"),
      "AQE did not split the hot partition even for the bare-shuffle " +
        s"shape — the store-backed defense is gone:\n$flat")
    // (d) the salted semi-join: same rows, hot gram spread by
    // construction (salt spread is asserted in AsOfSkewSpec)
    val salted = graft.ops.Skew.saltedJoin(pc, b, Seq("gram"), 8,
      "left_semi")
    assert(salted.collect().length.toLong == expected,
      "salted semi-join changed the membership")
  }

  test("q161: chunk dedup equals a from-scratch recomputation — " +
    "global first-occurrence keepers, per-doc cuts, reassembled text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val chunks = docs.flatMap { case (id, text) =>
      text.split(" ", -1).grouped(20).zipWithIndex
        .map { case (c, i) => (id, i.toLong, c.mkString(" ")) }
    }
    val keeper = chunks.groupBy(_._3).map { case (c, occ) =>
      c -> occ.map(x => (x._1, x._2)).min
    }
    val expected = chunks.groupBy(_._1).map { case (id, cs) =>
      val kept = cs.filter(x => keeper(x._3) == ((x._1, x._2)))
        .sortBy(_._2)
      Seq[Any](id, cs.length.toLong, (cs.length - kept.length).toLong,
        kept.map(_._3).mkString(" "))
    }.toSet
    assert(rows(queries.Extras.q161.fn(spark, sf)) == expected,
      "chunk dedup diverges from the independent recomputation")
  }

  test("q162: the NB quality classifier scores exactly the docs " +
    "outside both training slices and matches a from-scratch " +
    "integer-micro-nat recomputation") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"source", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def words(t: String) = t.split(" ", -1).toSeq
    val posW = docs.filter(_._2 == "src0").flatMap(d => words(d._3))
    val negW = docs.filter(_._2 == "src1").flatMap(d => words(d._3))
    val cp = posW.groupBy(identity).map { case (w, o) => w -> o.size }
    val cn = negW.groupBy(identity).map { case (w, o) => w -> o.size }
    val vocab = cp.keySet ++ cn.keySet
    val (tp, tn, nv) = (posW.size.toLong, negW.size.toLong,
      vocab.size.toLong)
    // Spark's round() is HALF_UP (rint is HALF_EVEN — off on exact .5)
    def micro(x: Double): Long = BigDecimal(math.log(x) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val wt = vocab.map(w => w ->
      (micro((cp.getOrElse(w, 0) + 1.0) / (tp + nv))
        - micro((cn.getOrElse(w, 0) + 1.0) / (tn + nv)))).toMap
    val fl = micro(1.0 / (tp + nv)) - micro(1.0 / (tn + nv))
    val prior = micro(docs.count(_._2 == "src0").toDouble /
      docs.count(_._2 == "src1"))
    val expected = docs.filter(d => d._2 != "src0" && d._2 != "src1")
      .map { case (id, _, t) =>
        val ws = words(t)
        val score = ws.map(w => wt.getOrElse(w, fl)).sum + prior
        Seq[Any](id, ws.size.toLong, score,
          if (score > 0) 1L else 0L)
      }.toSet
    assert(rows(queries.Extras.q162.fn(spark, sf)) == expected,
      "classifier diverges from the independent recomputation")
  }

  test("q165: cluster-balanced subsample — WindowGroupLimit prunes " +
    "map-side, every cell holds at most the cap in prototypicality " +
    "order, and the kept set matches a from-library recomputation") {
    import graft.sim.Similarity
    val df = queries.SimQueries.q165.fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("WindowGroupLimit"),
      s"the cap filter must plan as WindowGroupLimit:\n$plan")
    val got = rows(df)
    // independent keep rule from the library's own assignment ops
    val cent = Similarity.centroidTable(spark, 8, 64)
    val cd = Similarity.ivfAssign(
        spark.read.parquet(s"$sf/embeddings.parquet")
          .select($"vec_id", $"embedding",
            Similarity.norm($"embedding").as("nrm")), cent)
      .join(org.apache.spark.sql.functions.broadcast(cent), Seq("cid"))
      .withColumn("ccos", round(Similarity.dot($"embedding", $"ce")
        / ($"nrm" * Similarity.norm($"ce")), 6))
      .select($"vec_id", $"cid", $"ccos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = cd.groupBy(_._2).toSeq.flatMap { case (_, members) =>
      members.sortBy(m => (-m._3, m._1)).take(40).zipWithIndex
        .map { case ((vid, c, ccos), i) =>
          Seq[Any](vid, c, (i + 1).toLong, ccos) }.toSeq
    }.toSet
    assert(got == expected,
      "kept set diverges from the independent prototypicality ranking")
    got.groupBy(_(1)).foreach { case (cid, rowsInCell) =>
      assert(rowsInCell.size <= 40, s"cell $cid over cap")
      assert(rowsInCell.map(_(2).asInstanceOf[Long]).toSeq.sorted ==
        (1L to rowsInCell.size).toSeq, s"cell $cid ranks not contiguous")
    }
  }

  test("q166: source-precedence dedup matches a from-scratch " +
    "recomputation and the rule genuinely fires (drops and " +
    "cross-source yields are nonzero on the planted prefix dups)") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"source", $"text").collect()
      .map { r =>
        val head = r.getString(2).split(" ", -1).take(10).mkString(" ")
        (r.getLong(0), r.getString(1), r.getString(1).drop(3).toInt,
          java.security.MessageDigest.getInstance("MD5")
            .digest(head.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString)
      }
    val keeper = d.groupBy(_._4).map { case (fp, grp) =>
      fp -> grp.map(x => (x._3, x._1)).min
    }
    val expected = d.groupBy(_._2).map { case (src, grp) =>
      val kept = grp.count(x => keeper(x._4) == ((x._3, x._1)))
      val yielded = grp.count { x =>
        keeper(x._4) != ((x._3, x._1)) && keeper(x._4)._1 != x._3
      }
      Seq[Any](src, grp.length.toLong, kept.toLong,
        (grp.length - kept).toLong, yielded.toLong)
    }.toSet
    val got = rows(queries.TextQueries.q166.fn(spark, sf))
    assert(got == expected,
      "precedence dedup diverges from the independent recomputation")
    assert(got.map(_(3).asInstanceOf[Long]).sum > 0,
      "no drops — the gate is vacuous on this corpus")
    assert(got.map(_(4).asInstanceOf[Long]).sum > 0,
      "no cross-source yields — the precedence rule never fired")
  }

  test("q167: the fingerprint-store ingest gate matches a no-store " +
    "recomputation and BOTH rejection modes fire (store hit, " +
    "first-in-delta)") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"source", $"text").collect()
      .map { r =>
        val head = r.getString(2).split(" ", -1).take(10).mkString(" ")
        (r.getLong(0), r.getString(1),
          java.security.MessageDigest.getInstance("MD5")
            .digest(head.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString)
      }
    val hist = d.filter(_._1 % 5 != 0).map(_._3).toSet
    val delta = d.filter(_._1 % 5 == 0)
    val miss = delta.filterNot(x => hist(x._3))
    val firstIn = miss.groupBy(_._3).map { case (fp, g) =>
      fp -> g.map(_._1).min
    }
    val expected = miss.filter(x => firstIn(x._3) == x._1)
      .map(x => Seq[Any](x._1, x._2, x._3)).toSet
    assert(rows(queries.TextQueries.q167.fn(spark, sf)) == expected,
      "store-routed gate diverges from the no-store recomputation")
    assert(delta.count(x => hist(x._3)) > 0,
      "no store hits — the historical check is vacuous here")
    assert(miss.length > expected.size,
      "no in-delta duplicate — the first-holder rule never fired")
  }

  test("q168: precedence-aware near-dup keep — union-find over the " +
    "oracled candidate pairs reproduces every keeper, and " +
    "cross-source clusters exist (the rule has work to do)") {
    val pairs = queries.TextQueries.q30.fn(spark, sf)
      .select($"doc_a", $"doc_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val meta = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"source", $"n_chars").collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getString(1).drop(3).toInt, r.getLong(2)))
      .toMap
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val byComp = nodes.groupBy(find)
    val expected = byComp.map { case (comp, members) =>
      val keeper = members.minBy { id =>
        val (_, prio, nChars) = meta(id); (prio, -nChars, id)
      }
      Seq[Any](keeper, comp, members.length.toLong,
        meta(keeper)._1,
        members.map(meta(_)._1).distinct.length.toLong)
    }.toSet ++ meta.keySet.diff(nodes.toSet).map(id =>
      Seq[Any](id, id, 1L, meta(id)._1, 1L))
    val got = rows(queries.TextQueries.q168.fn(spark, sf))
    assert(got == expected,
      "precedence keep diverges from union-find + independent rule")
    assert(got.exists(_(4).asInstanceOf[Long] > 1),
      "no cross-source cluster — precedence never had a choice")
  }

  /** From-scratch BPE trainer: (the 3 merge-rule rows, the final
    * per-word symbol sequences) — shared by the q163 and q164 specs.
    */
  private def bpeReference(dir: String = sf)
      : (Set[Seq[Any]], Map[String, Int]) = {
    var seqs: Map[String, Vector[String]] =
      spark.read.parquet(s"$dir/documents.parquet")
        .select($"text").collect()
        .flatMap(_.getString(0).split(" ", -1)).filter(_.length >= 2)
        .distinct.map(w => w -> w.split("").toVector).toMap
    val freq = spark.read.parquet(s"$dir/documents.parquet")
      .select($"text").collect()
      .flatMap(_.getString(0).split(" ", -1)).filter(_.length >= 2)
      .groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val rules = (1 to 3).map { it =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      seqs.foreach { case (w, syms) =>
        syms.zip(syms.tail).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + freq(w)
        }
      }
      val ((ba, bb), total) =
        counts.toSeq.minBy { case ((a, b), t) => (-t, a, b) }
      def contract(s: Vector[String]): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == ba && s(i + 1) == bb) {
            out += (ba + bb); i += 2
          } else { out += s(i); i += 1 }
        }
        out.result()
      }
      seqs = seqs.map { case (w, syms) => w -> contract(syms) }
      Seq[Any](it.toLong, ba, bb, total)
    }.toSet
    (rules, seqs.map { case (w, syms) => w -> syms.length })
  }

  test("q163: the three BPE iterations match a from-scratch trainer " +
    "(weighted pair counts, lexicographic ties, left-to-right " +
    "non-overlapping contraction)") {
    assert(rows(queries.Extras.q163.fn(spark, sf)) == bpeReference()._1,
      "BPE loop diverges from the independent trainer")
  }

  test("q163/q164 contraction merges CONSECUTIVE winning-pair " +
    "occurrences and same-symbol runs correctly (the shared-" +
    "delimiter trap a single-space sentinel form falls into)") {
    // synthetic corpus engineered so the winning pairs occur
    // back-to-back: 'xyxy' makes (x,y) win iteration 1 and leaves
    // [xy, xy] — a consecutive SAME-symbol pair for iteration 2;
    // 'zzz' exercises the odd same-symbol run (left-to-right keeps
    // [zz, z], never [z, zz])
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe9")
      .toString
    Seq(
      (1L, "xyxy xyxy xyxy", "en", "src0", 14L),
      (2L, "xyxy zzz", "en", "src1", 8L),
      (3L, "zzz qq", "en", "src2", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val (rules, nSym) = bpeReference(dir)
    assert(rows(queries.Extras.q163.fn(spark, dir)) == rules,
      "loop diverges from the trainer on consecutive occurrences")
    // the engine's applied symbol counts equal the trainer's exactly
    val wl = nSym.map { case (w, n) => (w, n.toLong) }
    val expected = Seq(
      (1L, "xyxy xyxy xyxy"), (2L, "xyxy zzz"), (3L, "zzz qq"))
      .map { case (id, text) =>
        val ws = text.split(" ", -1).filter(_.length >= 2)
        val before = ws.map(_.length.toLong).sum
        val after = ws.map(wl).sum
        Seq[Any](id, ws.length.toLong, before, after,
          BigDecimal(before.toDouble / after)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
    assert(rows(queries.Extras.q164.fn(spark, dir)) == expected,
      "apply diverges from the trainer's final symbol counts")
    // and the trainer itself really saw the trap: 'xyxy' must end
    // fully merged once (x,y) then (xy,xy) win
    assert(nSym("xyxy") == 1,
      s"'xyxy' ended as ${nSym("xyxy")} symbols — consecutive " +
        "occurrences were not fully merged")
  }

  test("q164: applying the learned merges to the corpus matches the " +
    "independent trainer's final symbol counts per doc") {
    val nSym = bpeReference()._2
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").collect()
      .map { r =>
        val ws = r.getString(1).split(" ", -1).filter(_.length >= 2)
        val before = ws.map(_.length.toLong).sum
        val after = ws.map(w => nSym(w).toLong).sum
        Seq[Any](r.getLong(0), ws.length.toLong, before, after,
          BigDecimal(before.toDouble / after)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
    assert(rows(queries.Extras.q164.fn(spark, sf)) == expected,
      "BPE apply diverges from the independent encoder")
  }
}

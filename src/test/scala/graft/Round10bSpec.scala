package graft

import graft.multimodal.Multimodal
import graft.sources.Tables

/** Round-10 second-session additions. The first block pins the
  * MP4/ISO-BMFF box walker ([[Multimodal.mp4Meta]]) against
  * hand-built byte sequences covering the adversarial shapes the
  * oracle corpus cannot isolate one at a time: the 64-bit largesize
  * header escape, the size==0 box-to-EOF escape, both mvhd layouts
  * (including a v1 duration above 2^32), unknown versions, "trak"
  * spelled inside a foreign box's payload, trak boxes OUTSIDE moov,
  * truncation, and undersized boxes.
  */
class Round10bSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private val sf = "/root/testdata/sf0.001"

  private def hexBytes(h: String): Array[Byte] =
    h.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  private def hex8(x: Long): String = f"$x%08X"
  private def hex16(x: Long): String = f"$x%016X"

  private val ftypHex =
    "00000018" + "66747970" + "69736F6D" + "00000200" +
      "69736F6D" + "6D703431"

  // rate, volume, reserved(10), unity matrix(36), pre_defined(24)
  private val mvhdTail =
    "00010000" + "0100" + "0000" + "00" * 8 +
      "00010000" + "00000000" + "00000000" + "00000000" + "00010000" +
      "00000000" + "00000000" + "00000000" + "40000000" + "00" * 24

  private def mvhdV0(ts: Long, dur: Long): String =
    "0000006C" + "6D766864" + "00000000" + "000003E8" + "000007D0" +
      hex8(ts) + hex8(dur) + mvhdTail + "00000002"

  private def mvhdV1(ts: Long, dur: Long): String =
    "00000078" + "6D766864" + "01000000" + hex16(1000L) + hex16(2000L) +
      hex8(ts) + hex16(dur) + mvhdTail + "00000002"

  // ---- sniffFormat: mp4 branch

  test("sniffFormat: mp4 needs 'ftyp' at byte 4 and at least 12 bytes") {
    assert(Multimodal.sniffFormat(hexBytes(ftypHex)) == "mp4")
    // 'ftyp' at the wrong offset is not an ISO-BMFF file
    assert(Multimodal.sniffFormat("ftypisom....".getBytes) == "unknown")
    // 11 bytes is below the minimum sniff length
    assert(Multimodal.sniffFormat(
      hexBytes("00000018" + "66747970" + "697350")) == "unknown")
  }

  // ---- mp4Meta: hand-built containers

  test("mp4Meta: minimal ftyp+moov(mvhd v0) parses timescale, " +
    "duration, zero traks, version 0") {
    val p = hexBytes(ftypHex + hex8(116) + "6D6F6F76" + mvhdV0(600, 42))
    assert(Multimodal.mp4Meta(p).contains((600L, 42L, 0L, 0L)))
  }

  test("mp4Meta: size==1 largesize escape on moov — the 64-bit size " +
    "after the type is the real one, and the header grows to 16 bytes") {
    val p = hexBytes(ftypHex + "00000001" + "6D6F6F76" + hex16(124L) +
      mvhdV0(600, 42))
    assert(Multimodal.mp4Meta(p).contains((600L, 42L, 0L, 0L)))
  }

  test("mp4Meta: size==0 box-to-EOF escape on the final moov") {
    val p = hexBytes(ftypHex + "00000000" + "6D6F6F76" + mvhdV0(777, 9))
    assert(Multimodal.mp4Meta(p).contains((777L, 9L, 0L, 0L)))
  }

  test("mp4Meta: mvhd v1 carries 64-bit duration — a value above " +
    "2^32 round-trips exactly") {
    val dur = 5000000000L // > 2^32
    val p = hexBytes(ftypHex + hex8(128) + "6D6F6F76" + mvhdV1(90000, dur))
    assert(Multimodal.mp4Meta(p).contains((90000L, dur, 0L, 1L)))
  }

  test("mp4Meta: unknown mvhd version is corrupt, not guessed at") {
    val bad = "0000006C" + "6D766864" + "02000000" + "000003E8" +
      "000007D0" + hex8(600) + hex8(42) + mvhdTail + "00000002"
    val p = hexBytes(ftypHex + hex8(116) + "6D6F6F76" + bad)
    assert(Multimodal.mp4Meta(p).isEmpty)
  }

  test("mp4Meta: trak counting is structural — 'trak' spelled inside " +
    "a free box's payload never counts, real moov children do") {
    // free box whose 4 payload bytes are the ASCII run "trak"
    val free = hex8(12) + "66726565" + "7472616B"
    val trak = hex8(8) + "7472616B"
    val moovSz = 8 + 108 + 8 + 8
    val p = hexBytes(ftypHex + free + hex8(moovSz) + "6D6F6F76" +
      mvhdV0(600, 42) + trak + trak)
    assert(Multimodal.mp4Meta(p).contains((600L, 42L, 2L, 0L)))
  }

  test("mp4Meta: a trak box at TOP level (spec-violating placement) " +
    "is not a movie track — only moov children count") {
    val trak = hex8(8) + "7472616B"
    val p = hexBytes(ftypHex + trak + hex8(116) + "6D6F6F76" +
      mvhdV0(600, 42))
    assert(Multimodal.mp4Meta(p).contains((600L, 42L, 0L, 0L)))
  }

  test("mp4Meta: truncation and undersized boxes are None — a box " +
    "overrunning the buffer, a child overrunning moov, size<8, a " +
    "file with no moov, and a moov with no mvhd") {
    val good = ftypHex + hex8(116) + "6D6F6F76" + mvhdV0(600, 42)
    // chop the final byte: the mvhd child now overruns its parent
    assert(Multimodal.mp4Meta(hexBytes(good.dropRight(2))).isEmpty)
    // top-level box size 5 (< 8-byte header) is structurally invalid
    assert(Multimodal.mp4Meta(
      hexBytes(ftypHex + hex8(5) + "6D6F6F76")).isEmpty)
    // ftyp alone: no moov, no mvhd
    assert(Multimodal.mp4Meta(hexBytes(ftypHex)).isEmpty)
    // moov holding only a trak: still no mvhd
    assert(Multimodal.mp4Meta(hexBytes(ftypHex + hex8(16) + "6D6F6F76" +
      hex8(8) + "7472616B")).isEmpty)
    // largesize header cut off mid-largesize
    assert(Multimodal.mp4Meta(hexBytes(ftypHex + "00000001" +
      "6D6F6F76" + "00000000")).isEmpty)
  }

  // ---- corpus round-trip

  test("q203 corpus: decodeVideoMeta over asVideoTable reproduces the " +
    "generator arithmetic per row, with every adversarial variant " +
    "present (both mvhd versions, largesize free boxes, trak-text " +
    "payloads, garbage rows)") {
    val docs = Tables(spark, sf, "documents")
    val got = Multimodal.decodeVideoMeta(Multimodal.asVideoTable(docs))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    assert(ids.nonEmpty)
    var sawV0 = false; var sawV1 = false; var sawLarge = false
    var sawTrakText = false; var sawGarbage = false
    ids.foreach { id =>
      if (id % 3 == 2) {
        sawGarbage = true
        assert(got(id) == (("unknown", 0L, 0L, 0L, 0L)))
      } else {
        val exp = ("mp4", 600 + (id % 10) * 100, id % 1000 + 1,
          id % 3 + 1, id % 2)
        assert(got(id) == exp, s"doc $id")
        if (id % 2 == 0) sawV0 = true else sawV1 = true
        if (id % 8 == 0) sawLarge = true
        if (id % 4 == 0 && id % 5 + 1 >= 4) sawTrakText = true
      }
    }
    assert(sawV0 && sawV1 && sawLarge && sawTrakText && sawGarbage)
  }

  // ---- q204 epoch shuffle

  /** Driver-side reference Feistel — shared-nothing recomputation of
    * [[graft.queries.Extras2.feistel32]]'s arithmetic.
    */
  private def refFeistel(x: Long, epoch: Long): Long = {
    var l = x >> 16
    var r = x % 65536
    for (i <- 0 to 3) {
      val k = (2654435761L * epoch + 40503L * i) % 65536
      val f = (r * 40503L + k) % 65536
      val nl = r
      val nr = l ^ f
      l = nl
      r = nr
    }
    l * 65536 + r
  }

  /** The constructive inverse — peel rounds in reverse. Its existence
    * is the bijectivity proof the epoch shuffle rests on.
    */
  private def refFeistelInv(y: Long, epoch: Long): Long = {
    var l = y >> 16
    var r = y % 65536
    for (i <- 3 to 0 by -1) {
      val k = (2654435761L * epoch + 40503L * i) % 65536
      // forward was (l', r') = (r, l xor f(r)): undo with r = l'
      val pr = l
      val f = (pr * 40503L + k) % 65536
      val pl = r ^ f
      l = pl
      r = pr
    }
    l * 65536 + r
  }

  test("q204: engine permutation equals the shared-nothing reference " +
    "for every doc and epoch, the constructive inverse round-trips " +
    "(bijectivity, not just observed injectivity), and epochs " +
    "genuinely reorder") {
    import graft.queries.Extras2
    val docs = Tables(spark, sf, "documents")
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val got = docs.select(col("doc_id"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("epoch"))
      .withColumn("y", Extras2.feistel32(col("doc_id"), col("epoch")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    for (id <- ids; e <- 1L to 3L) {
      val y = refFeistel(id, e)
      assert(got((id, e)) == y, s"doc $id epoch $e")
      assert(refFeistelInv(y, e) == id, s"inverse at $id epoch $e")
      assert(y >= 0 && y < 4294967296L)
    }
    // distinct permuted keys per epoch — no rand()-style collisions
    for (e <- 1L to 3L)
      assert(ids.map(refFeistel(_, e)).distinct.length == ids.length)
    // different epochs produce different assignments somewhere
    assert(ids.exists(id => refFeistel(id, 1) != refFeistel(id, 2)))
  }

  // ---- q205 link pagerank

  test("q205: engine per-source rank mass equals a shared-nothing " +
    "Scala PageRank over the same arithmetic graph, and ranks " +
    "genuinely spread (non-uniform in-degree is doing its job)") {
    import graft.queries.Extras2
    val docs = Tables(spark, sf, "documents")
    val rows = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = rows.length.toLong
    val edges = rows.flatMap { case (u, _) =>
      Seq(u -> ((u + 1) % n), u -> ((2 * u + 1) % n))
    }
    var pr = rows.map { case (id, _) => id -> 1000000L }.toMap
    for (_ <- 1 to 4) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => pr(u) / 2 }.sum
      }
      pr = pr.keys.map(v => v -> (150000L + 850L * in(v) / 1000L)).toMap
    }
    assert(pr.values.toSet.size > 1, "ranks must spread")
    val expBySource = rows.groupBy(_._2).map { case (s, rs) =>
      s -> (rs.length.toLong, rs.map(r => pr(r._1)).sum)
    }
    val got = Extras2.q205.fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expBySource)
  }

  // ---- q206 phrase probe

  test("q206: the postings-adjacency plan reproduces a shared-nothing " +
    "sliding-window recomputation — same winner bigram (count-desc, " +
    "lexicographic ties), same per-doc OVERLAP-counting match counts " +
    "— and the result is non-vacuous") {
    import graft.queries.Extras2
    val texts = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val bigramsOf = (t: String) => t.split(" ", -1).sliding(2)
      .filter(_.length == 2).map(a => a(0) + " " + a(1)).toSeq
    val counts = texts.flatMap { case (_, t) => bigramsOf(t) }
      .groupBy(identity).map { case (bg, o) => bg -> o.length }
    val winner = counts.toSeq.sortBy { case (bg, c) => (-c, bg) }.head._1
    val exp = texts.flatMap { case (id, t) =>
      val nm = bigramsOf(t).count(_ == winner)
      if (nm > 0) Some((winner, id, nm.toLong)) else None
    }.toSet
    val got = Extras2.q206.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exp)
    assert(got.nonEmpty, "phrase must match somewhere — vacuous gate")
  }

  // ---- q207 RRF fusion

  test("q207: rrf_ppm is exactly 1000000 div (60+rank) summed over " +
    "present arms for every output row, both arms are represented, " +
    "and the output is the rrf-desc/doc-asc top-10") {
    import graft.queries.Extras2
    val out = Extras2.q207.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 10)
    out.foreach { case (_, lr, vr, s) =>
      val exp = (if (lr > 0) 1000000L / (60 + lr) else 0L) +
        (if (vr > 0) 1000000L / (60 + vr) else 0L)
      assert(s == exp)
    }
    assert(out.exists(_._2 > 0) && out.exists(_._3 > 0),
      "both retrieval arms must contribute to the fused top-10")
    // sorted by (rrf desc, doc_id asc)
    assert(out.sortBy { case (id, _, _, s) => (-s, id) }.toSeq ==
      out.toSeq)
  }

  test("rrfFuse: a doc retrieved by BOTH arms gets the additive score " +
    "(the corpus-unreachable branch), absent arms contribute nothing, " +
    "and the full-outer merge keeps single-arm docs from either side") {
    import graft.queries.Extras2
    import spark.implicits._
    val lex = Seq((10L, 1L), (20L, 2L), (30L, 3L))
      .toDF("doc_id", "lex_rank")
    val den = Seq((20L, 1L), (40L, 2L)).toDF("doc_id", "vec_rank")
    val got = Extras2.rrfFuse(lex, den).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(20L) == ((2L, 1L, 1000000L / 62 + 1000000L / 61)))
    assert(got(10L) == ((1L, 0L, 1000000L / 61)))
    assert(got(30L) == ((3L, 0L, 1000000L / 63)))
    assert(got(40L) == ((0L, 2L, 1000000L / 62)))
    assert(got.size == 4)
    // the both-arms doc outranks every single-arm doc at equal ranks
    assert(got(20L)._3 > got(10L)._3)
  }

  // ---- q208 aggregate-view maintenance

  test("AggView: merge(summarize(a), summarize(b)) equals " +
    "summarize(a ∪ b) on constructed frames — the mergeability the " +
    "incremental path rests on — with delta-only groups passing " +
    "through and min/max combining across the seam") {
    import graft.ops.AggView
    import spark.implicits._
    val a = Seq(("s1", "en", 10L), ("s1", "en", 20L), ("s2", "fr", 5L))
      .toDF("source", "lang", "n_chars")
    val b = Seq(("s1", "en", 1L), ("s3", "de", 7L))
      .toDF("source", "lang", "n_chars")
    val keys = Seq("source", "lang")
    val inc = AggView.merge(
      AggView.summarize(a, keys, "n_chars"),
      AggView.summarize(b, keys, "n_chars"), keys)
    val scratch = AggView.summarize(a.unionByName(b), keys, "n_chars")
    assert(rows(inc) == rows(scratch))
    val m = inc.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6))).toMap
    // seam group: counts add, sums add, min crosses the seam (1 from
    // the delta), max stays with history (20)
    assert(m(("s1", "en")) == ((3L, 31L, 100L + 400L + 1L, 1L, 20L)))
    // history-only and delta-only groups pass through untouched
    assert(m(("s2", "fr")) == ((1L, 5L, 25L, 5L, 5L)))
    assert(m(("s3", "de")) == ((1L, 7L, 49L, 7L, 7L)))
  }

  test("q208 corpus: the watermark is non-vacuous — both halves hold " +
    "docs and at least one (source, lang) group spans it, so the " +
    "merge seam is actually exercised by the oracle gate") {
    val docs = Tables(spark, sf, "documents")
    val hist = docs.filter(col("doc_id") < 300)
    val delta = docs.filter(col("doc_id") >= 300)
    assert(hist.count() > 0 && delta.count() > 0)
    val hg = hist.select("source", "lang").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val dg = delta.select("source", "lang").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert((hg & dg).nonEmpty, "no group spans the watermark")
  }

  // ---- q209 bigram-LM perplexity

  test("q209: engine scores equal a shared-nothing Scala bigram-LM " +
    "recomputation doc-for-doc (same add-one smoothing, same OOV " +
    "floor, same micro-nat rounding), and the trained filter " +
    "discriminates: in-distribution (en) docs average strictly lower " +
    "than off-distribution docs") {
    import graft.queries.Extras2
    val texts = Tables(spark, sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bigramsOf = (t: String) => t.split(" ", -1).sliding(2)
      .filter(_.length == 2).map(a => (a(0), a(1))).toSeq
    val train = texts.filter(_._2 == "en")
    val c2 = train.flatMap(t => bigramsOf(t._3))
      .groupBy(identity).map { case (k, o) => k -> o.length.toLong }
    val c1 = train.flatMap(t => bigramsOf(t._3).map(_._1))
      .groupBy(identity).map { case (k, o) => k -> o.length.toLong }
    val v = train.flatMap(_._3.split(" ", -1)).distinct.length.toLong
    assert(v > 0, "train slice must be non-empty")
    val exp = texts.flatMap { case (id, _, t) =>
      val bgs = bigramsOf(t)
      if (bgs.isEmpty) None
      else {
        val ms = bgs.map { case (a, b) =>
          val n1 = c1.getOrElse(a, 0L)
          val n2 = c2.getOrElse((a, b), 0L)
          math.round(math.log((n1 + v).toDouble / (n2 + 1)) * 1e6)
        }
        Some(id -> (bgs.length.toLong, ms.sum, ms.sum / bgs.length))
      }
    }.toMap
    val got = Extras2.q209.fn(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == exp)
    val byLang = texts.map(t => t._2 == "en").zip(
      texts.map(t => got.get(t._1).map(_._3)))
    val en = byLang.collect { case (true, Some(a)) => a }
    val other = byLang.collect { case (false, Some(a)) => a }
    assert(en.nonEmpty && other.nonEmpty)
    assert(en.sum.toDouble / en.length <
      other.sum.toDouble / other.length,
      "reference-trained LM must score its own distribution lower")
  }

  // ---- q210 matryoshka recall

  test("q210: n_kept is bounded by the list size, the measurement is " +
    "non-degenerate on isotropic embeddings (both misses and keeps " +
    "occur), and the full arm agrees with q37's gated top-5 on the " +
    "shared (qid, nid) pairs") {
    import graft.queries.{Extras2, SimQueries}
    val got = Extras2.q210.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 8)
    assert(got.values.forall(k => k >= 0 && k <= 5))
    assert(got.values.exists(_ < 5), "perfect recall from a 4× " +
      "truncation of isotropic noise would mean the arms are wired " +
      "to the same similarity")
    // cross-query consistency: q37 IS the full arm
    val q37pairs = SimQueries.q37.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(q37pairs.map(_._1) == got.keySet)
  }

  // ---- q213 consistent-ring resharding

  test("q213: engine ownership equals a shared-nothing Scala ring " +
    "recomputation, every ring-stolen doc lands on a NEW shard " +
    "(old shards steal nothing — the arc-stealing property live " +
    "resharding rests on), and the ring moves strictly less than " +
    "naive modulo") {
    import graft.queries.Extras2
    val ids = Tables(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val vs = (0 until 640).map(i => (refFeistel(i, 9L), i / 64))
    val p10 = vs.sortBy(_._1)
    val p8 = vs.filter(_._2 < 8).sortBy(_._1)
    def own(ps: Seq[(Long, Int)], key: Long): Int =
      ps.find(_._1 >= key).getOrElse(ps.head)._2
    val assigned = ids.map { id =>
      val key = refFeistel(id, 7L)
      (id, key, own(p8, key), own(p10, key))
    }
    val exp = assigned.groupBy(_._4).map { case (o10, ds) =>
      o10.toLong -> (ds.length.toLong,
        ds.count(d => d._3 != d._4).toLong,
        ds.count(d => d._2 % 8 != d._2 % 10).toLong)
    }
    val got = Extras2.q213.fn(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == exp)
    // arc stealing: old shards steal nothing, new shards take all
    assigned.filter(d => d._3 != d._4)
      .foreach(d => assert(d._4 >= 8, s"doc ${d._1} moved between " +
        "OLD shards — the ring is broken"))
    val stolen = got.values.map(_._2).sum
    val modMoved = got.values.map(_._3).sum
    assert(stolen > 0 && stolen < modMoved,
      s"ring must move less than modulo ($stolen vs $modMoved)")
  }

  test("ringOwner: a key ABOVE every vnode position wraps to the " +
    "global minimum instead of throwing — the ANSI element_at-on-" +
    "empty-array path ScaleSmoke's key-shifted corpus exposed") {
    import graft.queries.Extras2
    import spark.implicits._
    val df = Seq(
      (5L, Seq((10L, 1L), (20L, 2L), (30L, 3L))), // below all -> 1
      (25L, Seq((10L, 1L), (20L, 2L), (30L, 3L))), // mid -> 3
      (99L, Seq((10L, 1L), (20L, 2L), (30L, 3L)))) // above all -> wrap 1
      .toDF("key", "raw")
      .withColumn("ps", expr(
        "transform(raw, r -> named_struct('pos', r._1, 'shard', r._2))"))
    val got = df.select(col("key"), Extras2.ringOwner("ps").as("o"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 1L, 25L -> 3L, 99L -> 1L))
  }

  // ---- q214 Poisson bootstrap

  test("q214: replicate totals equal a shared-nothing recomputation " +
    "from the same Feistel draws and pre-quantized CDF thresholds, " +
    "replicates genuinely vary, and the weight distribution is " +
    "Poisson(1)-shaped (zero-weight fraction near 1/e, replicate " +
    "means near the corpus total)") {
    import graft.queries.Extras2
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ts = Seq(1580030168L, 3160060337L, 3950075421L,
      4213413783L, 4279248373L, 4292415291L)
    def wt(u: Long): Long = ts.indexWhere(u < _) match {
      case -1 => 6L; case i => i.toLong
    }
    val exp = (0L until 32L).map { rep =>
      val ws = docs.map { case (id, nc) =>
        (wt(refFeistel(id * 64 + rep, 11L)), nc)
      }
      rep -> (ws.map(_._1).sum, ws.map(w => w._1 * w._2).sum)
    }.toMap
    val got = Extras2.q214.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == exp)
    assert(got.values.toSet.size > 1, "replicates must vary")
    // Poisson(1) shape: zero fraction near 1/e, mean weight near 1
    val n = docs.length
    val draws = (0L until 32L).flatMap(rep => docs.map { case (id, _) =>
      wt(refFeistel(id * 64 + rep, 11L))
    })
    val zeroFrac = draws.count(_ == 0L).toDouble / draws.size
    assert(zeroFrac > 0.33 && zeroFrac < 0.41, s"$zeroFrac")
    val meanEff = got.values.map(_._1).sum.toDouble / 32 / n
    assert(meanEff > 0.9 && meanEff < 1.1, s"$meanEff")
  }

  // ---- q215 PSI drift

  test("q215: every PSI term is non-negative (both factors share a " +
    "sign by construction), both features are present with multiple " +
    "buckets, conservation holds (bucket counts sum to the slice " +
    "sizes per feature), and a shared-nothing recomputation agrees") {
    import graft.queries.Extras2
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val feats = docs.flatMap { case (id, nc, tx) =>
      Seq(("n_chars", nc / 100, id < 300),
        ("n_tokens", tx.split(" ", -1).length.toLong / 10, id < 300))
    }
    val exp = feats.groupBy(f => (f._1, f._2)).map { case (k, fs) =>
      k -> (fs.count(_._3).toLong, fs.count(!_._3).toLong)
    }
    val byFeat = exp.groupBy(_._1._1)
    val got = Extras2.q215.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, (cr, cc, psi)) =>
      assert((cr, cc) == exp(k), s"$k")
      assert(psi >= 0, s"negative PSI term at $k")
      // recompute the term with the same smoothing
      val (nR, nC, b) = (byFeat(k._1).values.map(_._1).sum,
        byFeat(k._1).values.map(_._2).sum, byFeat(k._1).size)
      val p = (cr + 1.0) / (nR + b)
      val q = (cc + 1.0) / (nC + b)
      assert(psi == math.round((p - q) * math.log(p / q) * 1e6), s"$k")
    }
    assert(got.keySet.map(_._1) == Set("n_chars", "n_tokens"))
    assert(got.keySet.groupBy(_._1).values.forall(_.size > 1),
      "each feature needs multiple buckets for PSI to mean anything")
  }

  // ---- q217 native bounded top-k aggregate

  test("TopKPairsF: cross-partition merges with ties and trim " +
    "pressure reproduce the window semantics exactly (ord DESC, " +
    "payload ASC), and the plan is the partial→exchange→final " +
    "ObjectHashAggregate pair — the map-side-bounded shape, not a " +
    "corpus sort") {
    import graft.functions.TopKPairsF
    import spark.implicits._
    // 3 groups × 40 rows with deliberate ord ties; 13 partitions so
    // partial buffers serde across the exchange and merge repeatedly
    val rows40 = for {
      g <- Seq("a", "b", "c"); i <- 0 until 40
    } yield (g, (i % 7).toLong, i.toLong)
    val df = rows40.toDF("g", "ord", "payload").repartition(13)
    val out = df.groupBy("g")
      .agg(TopKPairsF(col("ord"), col("payload"), 5).as("top"))
    val got = out.collect().map { r =>
      r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getLong(1)))
    }.toMap
    val exp = rows40.groupBy(_._1).view.mapValues {
      _.map(t => (t._2, t._3)).sortBy { case (o, p) => (-o, p) }.take(5)
    }.toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (g, s) => assert(s == exp(g), s"group $g") }
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ObjectHashAggregate"),
      s"TypedImperativeAggregate must run in ObjectHashAggregate:\n$plan")
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      "expected the partial and final aggregate modes")
    assert(!plan.contains("Sort "),
      s"the native top-k must not sort the input:\n$plan")
  }

  test("q217: the native aggregate's corpus answer equals the window " +
    "formulation (the oracle's plan) recomputed shared-nothing — " +
    "the SQL surface is covered in ExtensionsSpec") {
    import graft.queries.Extras2
    val got = Extras2.q217.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val docs = Tables(spark, sf, "documents")
      .select("source", "n_chars", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exp = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      ds.sortBy(d => (-d._2, d._3)).take(3).zipWithIndex.map {
        case ((_, nc, id), i) => (src, i + 1L, nc, id)
      }
    }.toSet
    assert(got == exp)
  }

  // ---- q218 k-anonymity audit

  test("q218: counts equal a shared-nothing recomputation over the " +
    "quasi-identifier grid, and the audit is non-vacuous — risky " +
    "groups and safe groups both exist at this sf") {
    import graft.queries.Extras2
    val docs = Tables(spark, sf, "documents")
      .select("source", "lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2) / 100))
    val qi = docs.groupBy(identity).view.mapValues(_.length).toMap
    val exp = qi.groupBy(_._1._1).map { case (src, gs) =>
      val risky = gs.filter(_._2 < 5)
      val total = gs.values.sum.toLong
      val riskyDocs = risky.values.sum.toLong
      src -> (gs.size.toLong, risky.size.toLong, riskyDocs,
        1000L * riskyDocs / total)
    }
    val got = Extras2.q218.fn(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == exp)
    assert(got.values.exists(_._2 > 0), "no risky groups — vacuous")
    assert(got.values.exists(v => v._1 > v._2),
      "every group risky — the k threshold is not discriminating")
  }

  // ---- q219 loss-difference selection

  test("q219: the selection equals a shared-nothing recomputation of " +
    "BOTH language models (generic modulo-slice + in-domain en) with " +
    "sign-safe integer averaging, and the kept set is exactly the " +
    "excess-ordered top-100") {
    import graft.queries.Extras2
    val texts = Tables(spark, sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bigramsOf = (t: String) => t.split(" ", -1).sliding(2)
      .filter(_.length == 2).map(a => (a(0), a(1))).toSeq
    // generic arm — q143's model: train doc_id%10==0, fixed V=4096
    val gTrain = texts.filter(_._1 % 10 == 0)
    val cb = gTrain.flatMap(t => bigramsOf(t._3))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cu = cb.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val floorU = math.round(math.log(1.0 / 4096) * 1e6)
    def genScore(a: String, b: String): Long = cb.get((a, b)) match {
      case Some(n) => math.round(math.log((n + 1.0) /
        (cu(a) + 4096)) * 1e6)
      case None => cu.get(a) match {
        case Some(u) => math.round(math.log(1.0 / (u + 4096)) * 1e6)
        case None => floorU
      }
    }
    // reference arm — q209's model: train lang=='en', data-derived V
    val rTrain = texts.filter(_._2 == "en")
    val c2 = rTrain.flatMap(t => bigramsOf(t._3))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = rTrain.flatMap(t => bigramsOf(t._3).map(_._1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val v = rTrain.flatMap(_._3.split(" ", -1)).distinct.length.toLong
    val scores = texts.filter(t => t._1 % 10 != 0)
      .flatMap { case (id, _, tx) =>
        val bgs = bigramsOf(tx)
        if (bgs.isEmpty) None
        else {
          val gSum = bgs.map { case (a, b) => genScore(a, b) }.sum
          val rSum = bgs.map { case (a, b) =>
            math.round(math.log((c1.getOrElse(a, 0L) + v).toDouble /
              (c2.getOrElse((a, b), 0L) + 1)) * 1e6)
          }.sum
          val genAvg = (-gSum) / bgs.length
          val refAvg = rSum / bgs.length
          Some((id, genAvg, refAvg, genAvg - refAvg))
        }
      }
    val exp = scores.sortBy(x => (-x._4, x._1)).take(100)
      .map(x => (x._1, x._2, x._3, x._4)).toSet
    val got = Extras2.q219.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == exp)
    // selection coherence: kept min excess >= excluded max excess
    val keptMin = exp.map(_._4).min
    val excluded = scores.sortBy(x => (-x._4, x._1)).drop(100)
    if (excluded.nonEmpty)
      assert(keptMin >= excluded.map(_._4).max)
  }

  // ---- q220 PII redaction

  test("redactPii: mid-string and multi-instance spans redact, " +
    "near-misses survive (3-part dotted number, short digit-dash " +
    "runs), and the oracle device's precondition holds — the corpus " +
    "carries no '@', digits, or dots of its own") {
    import graft.queries.Extras2
    import spark.implicits._
    val cases = Seq(
      ("write bob@x.com then call 555-1234 now",
        "write [EMAIL] then call [PHONE] now"),
      ("ips 1.2.3.4 and 10.0.0.1 pair", "ips [IP] and [IP] pair"),
      ("version 1.2.3 stays; 12-3456 stays; 555-123 stays",
        "version 1.2.3 stays; 12-3456 stays; 555-123 stays"),
      ("a.b@c.de mid", "[EMAIL] mid"))
      .toDF("s", "expected")
    val got = cases.select(Extras2.redactPii(col("s")).as("r"),
      col("expected")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1)))
    // oracle precondition: arithmetic reconstruction rests on this
    val dirty = Tables(spark, sf, "documents")
      .filter(col("text").rlike("[@0-9.]")).count()
    assert(dirty == 0, "corpus carries PII-pattern characters — the " +
      "q220 oracle's reconstruction device no longer holds")
  }

  // ---- q221 stored-reference PSI

  test("q221: the stored-reference drift report equals q215's " +
    "in-query report row-for-row (the same-oracle claim, checked " +
    "engine-side too), and single-sided buckets — absent at this sf " +
    "— contribute positive terms through constructed frames") {
    import graft.queries.Extras2
    import spark.implicits._
    val a = rows(Extras2.q215.fn(spark, sf))
    val b = rows(Extras2.q221.fn(spark, sf))
    assert(a == b)
    // constructed: bucket 1 only in ref, bucket 2 shared, bucket 3
    // only in cur — both zero-filled sides must yield terms > 0
    // (a drifted-away bucket IS drift)
    val cnt = Seq(("f", 1L, 10L, 0L), ("f", 2L, 5L, 5L),
      ("f", 3L, 0L, 10L))
      .toDF("feature", "bucket", "c_ref", "c_cur")
    val terms = Extras2.psiOf(cnt).collect()
      .map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(terms(1L) > 0 && terms(3L) > 0,
      s"single-sided buckets must register drift: $terms")
    assert(terms(2L) == 0, "a perfectly shared bucket has zero term")
  }

  // ---- q222 dedup-detector evaluation

  test("dedupEval: partial overlap and empty-side cases produce the " +
    "right integer per-mille metrics (guarded divisions), and the " +
    "corpus measurement is the perfect-agreement row (25/25/25 at " +
    "sf0.01 grain — here checked at this sf, non-vacuous)") {
    import graft.queries.Extras2
    import spark.implicits._
    val pred = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val truth = Seq((1L, 2L), (7L, 8L)).toDF("da", "db")
    val m = Extras2.dedupEval(pred, truth).collect()(0)
    assert((m.getLong(0), m.getLong(1), m.getLong(2),
      m.getLong(3), m.getLong(4)) == ((2L, 3L, 1L, 333L, 500L)))
    val empty = Extras2.dedupEval(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), truth)
      .collect()(0)
    assert((empty.getLong(1), empty.getLong(2), empty.getLong(3),
      empty.getLong(4)) == ((0L, 0L, 0L, 0L)))
    val corpus = Extras2.q222.fn(spark, sf).collect()(0)
    assert(corpus.getLong(0) > 0, "no planted near-dup pairs — vacuous")
    assert(corpus.getLong(3) == 1000L && corpus.getLong(4) == 1000L,
      "the banding should catch exactly the head-sharers on this " +
        "corpus — if this breaks, the corpus or the detector changed")
  }

  // ---- q223 merge-on-read deletion vectors

  test("deletion vectors: waves append without touching base files, " +
    "MOR reads see each wave incrementally, and duplicate or " +
    "re-applied deleted keys are harmless") {
    import graft.sources.Warehouse
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-dv").toString
    val wh = Warehouse(root)
    val base = (0L until 100L).map(i => (i, s"v$i"))
      .toDF("k", "v")
    wh.overwrite(base, "tb")
    val baseFiles = new java.io.File(s"$root/tb").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    // wave 1
    wh.deleteKeys(Seq(1L, 2L, 3L).toDF("k"), "tb")
    assert(wh.readMor(spark, "tb", "k").count() == 97)
    // base files untouched by the delete
    val after = new java.io.File(s"$root/tb").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == baseFiles, "a delete must not rewrite base files")
    // wave 2 overlaps wave 1 (2,3 again) — duplicates harmless
    wh.deleteKeys(Seq(2L, 3L, 4L, 5L).toDF("k"), "tb")
    assert(wh.readMor(spark, "tb", "k").count() == 95)
    val morRows = rows(wh.readMor(spark, "tb", "k"))
    // stale-vector idempotence: re-applying deleted keys removes
    // nothing
    wh.deleteKeys(Seq(1L, 2L, 3L, 4L, 5L).toDF("k"), "tb")
    assert(rows(wh.readMor(spark, "tb", "k")) == morRows)
    // the store keeps working: a fresh delete after the re-applied one
    wh.deleteKeys(Seq(10L).toDF("k"), "tb")
    assert(wh.readMor(spark, "tb", "k").count() == 94)
  }

  // ---- q224 merge-on-read upserts

  test("upsert resolution: latest version wins per key including " +
    "overlapping waves, ties on the version break by the remaining " +
    "fields (struct order — never arrival order), untouched keys " +
    "keep their base rows, and the sidecar grows by O(changes)") {
    import graft.sources.Warehouse
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-up").toString
    val wh = Warehouse(root)
    wh.overwrite(Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L))
      .toDF("k", "v", "ver"), "tu")
    wh.upsertRows(Seq((1L, "a1", 1L)).toDF("k", "v", "ver"), "tu")
    wh.upsertRows(Seq((1L, "a2", 2L), (2L, "b2", 2L))
      .toDF("k", "v", "ver"), "tu")
    val got = wh.readMorUpsert(spark, "tu", "k", "ver").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (("a2", 2L)), 2L -> (("b2", 2L)),
      3L -> (("c", 0L))))
    // version tie: higher remaining-field struct wins, deterministic
    wh.upsertRows(Seq((3L, "cX", 5L), (3L, "cY", 5L))
      .toDF("k", "v", "ver"), "tu")
    val tied = wh.readMorUpsert(spark, "tu", "k", "ver").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tied(3L) == "cY", "equal versions must resolve by the " +
      "remaining fields, not arrival order")
    // column order preserved
    assert(wh.readMorUpsert(spark, "tu", "k", "ver").columns.toSeq ==
      Seq("k", "v", "ver"))
  }

  // ---- q225 time travel

  test("time travel: v1 re-reads bit-exact AFTER v2 lands " +
    "(immutability), the latest version resolves to the max, " +
    "version numbers allocate densely, and writing never touches " +
    "older snapshot directories") {
    import graft.sources.Warehouse
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-tt").toString
    val wh = Warehouse(root)
    val v1 = Seq((1L, 10L), (2L, 20L)).toDF("k", "x")
    assert(wh.writeVersion(v1, "tt") == 1)
    val v1Rows = rows(wh.readVersion(spark, "tt", 1))
    val files1 = new java.io.File(s"$root/tt@v1").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(wh.writeVersion(Seq((1L, 11L)).toDF("k", "x"), "tt") == 2)
    assert(rows(wh.readVersion(spark, "tt", 1)) == v1Rows)
    val files1b = new java.io.File(s"$root/tt@v1").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(files1b == files1, "writing v2 must not touch v1's files")
    assert(wh.latestVersion("tt").contains(2))
    assert(rows(wh.readVersion(spark, "tt", wh.latestVersion("tt").get)) ==
      Set(Seq[Any](1L, 11L)))
  }

  // ---- q229 DQ expectations

  test("q229: the suite reads the table ONCE (single scan in the " +
    "plan — a rule-per-scan suite would read it seven times), both " +
    "verdicts occur (the tight SLA rule genuinely fails, the " +
    "contract rules genuinely pass), and the violation counts match " +
    "a driver recomputation") {
    import graft.queries.Extras2
    val df = Extras2.q229.fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("FileScan|BatchScan".r.findAllIn(plan).size == 1,
      s"expected exactly one table scan:\n$plan")
    val got = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == 7)
    assert(got.values.exists(_._2 == 1L) &&
      got.values.exists(_._2 == 0L),
      "need both verdicts for the report to prove anything")
    val over = Tables(spark, sf, "documents")
      .filter(col("n_chars") > 500).count()
    assert(got("sla_len_500") == ((over, if (over == 0) 1L else 0L)))
    assert(over > 0, "the SLA rule must genuinely bite at this sf")
    Seq("key_not_null", "key_unique", "lang_known", "len_sane",
      "source_format", "text_nonempty").foreach { r =>
      assert(got(r) == ((0L, 1L)), s"contract rule $r should pass")
    }
  }

  // ---- q228 vocabulary pruning

  test("q228: pruning can only hurt — opt4 >= opt2 holds word-for-" +
    "word structurally (subset inventory loses options), the prune " +
    "genuinely bites at this sf (strict regression somewhere), and " +
    "the aggregate equals the per-word recomputation") {
    import graft.queries.Extras
    val got = Extras.q228.fn(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    got.values.foreach { case (_, o2, o4, _) =>
      assert(o4 >= o2, "a subset inventory cannot segment cheaper")
    }
    assert(got.values.map(_._4).sum > 0,
      "prune never bites — threshold too low to test anything")
    assert(got.values.exists { case (nw, _, _, nr) => nr < nw },
      "every word regressed — suspicious for a support bump")
  }

  // ---- q227 IVM delta algebra

  test("ivmApply: a full-group deletion drives n_rows to zero and " +
    "the group DROPS from the view; updates subtract old and add " +
    "new in one pass; inserts create new groups — the invertible-" +
    "aggregate algebra on constructed frames") {
    import graft.queries.Extras2
    import spark.implicits._
    val view = Seq(("s1", 2L, 30L, 500L), ("s2", 1L, 7L, 49L))
      .toDF("source", "n_rows", "sum_v", "ssq_v")
    // diff: delete BOTH s1 rows (full-group), update nothing of s2,
    // insert a row into a brand-new group s3
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val diffSchema = StructType(Seq(
      StructField("change_type", StringType),
      StructField("tgt_source", StringType),
      StructField("tgt_n_chars", LongType),
      StructField("src_source", StringType),
      StructField("src_n_chars", LongType)))
    val diff = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("delete", "s1", 10L, null, null),
        Row("delete", "s1", 20L, null, null),
        Row("insert", null, null, "s3", 5L)),
      diffSchema)
    val got = Extras2.ivmApply(view, diff).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(!got.contains("s1"), "emptied group must drop")
    assert(got("s2") == ((1L, 7L, 49L)), "untouched group unchanged")
    assert(got("s3") == ((1L, 5L, 25L)), "insert mints a new group")
  }

  // ---- streaming upsert sink

  test("upsertSink: micro-batches append O(batch) to the sidecar " +
    "(base files untouched), MOR reads resolve latest-wins across " +
    "batch boundaries by the carried version, and replaying a batch " +
    "(duplicate (key, ver) rows) changes nothing — the checkpoint-" +
    "recovery property") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.Warehouse
    import graft.streaming.StreamingEtl
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-upsink").toString
    val wh = Warehouse(root)
    wh.overwrite(Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L))
      .toDF("k", "v", "ver"), "ts")
    val baseFiles = new java.io.File(s"$root/ts").listFiles()
      .map(_.getName).toSet
    val in = MemoryStream[(Long, String, Long)]
    def drain(): Unit = {
      val q = StreamingEtl.upsertSink(
        in.toDF().toDF("k", "v", "ver"), wh, "ts",
        s"$root/ck")
      q.awaitTermination()
    }
    in.addData((1L, "a1", 1L), (2L, "b1", 1L)); drain()
    in.addData((1L, "a2", 2L)); drain()
    val got = wh.readMorUpsert(spark, "ts", "k", "ver").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (("a2", 2L)), 2L -> (("b1", 1L)),
      3L -> (("c", 0L))))
    assert(new java.io.File(s"$root/ts").listFiles()
      .map(_.getName).toSet == baseFiles,
      "the sink must never rewrite base files")
    // replay: duplicate (key, ver) rows collapse in resolution
    wh.upsertRows(Seq((1L, "a2", 2L)).toDF("k", "v", "ver"), "ts")
    assert(wh.readMorUpsert(spark, "ts", "k", "ver").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a2", 2L -> "b1", 3L -> "c"))
  }

  // ---- partition-count invariance for the new decompositions

  test("q211/q216 are shuffle-partition invariant: the bucket-grain " +
    "budget selection and the block prefix-max produce identical " +
    "rows at 7 and 13 shuffle partitions (cloned session + cache " +
    "nonces, the Round8 device — the decompositions must not depend " +
    "on physical partitioning)") {
    import graft.queries.{Events, Extras2}
    val base211 = rows(Extras2.q211.fn(spark, sf))
    val base216 = rows(Events.q216.fn(spark, sf))
    val clone = spark.newSession()
    def atPartitions(n: Int): (Set[Seq[Any]], Set[Seq[Any]]) = {
      clone.conf.set("spark.sql.shuffle.partitions", n.toString)
      Materialized.setNonceForTests(clone, s"r10binv$n")
      SessionScratch.setNonceForTests(clone, s"r10binv$n")
      try (rows(Extras2.q211.fn(clone, sf)),
        rows(Events.q216.fn(clone, sf)))
      finally {
        Materialized.clear(clone)
        Materialized.clearNonceForTests(clone)
        SessionScratch.clearNonceForTests(clone)
      }
    }
    val (a7, b7) = atPartitions(7)
    assert(a7 == base211, "q211 changed with 7 shuffle partitions")
    assert(b7 == base216, "q216 changed with 7 shuffle partitions")
    val (a13, b13) = atPartitions(13)
    assert(a13 == base211, "q211 changed with 13 shuffle partitions")
    assert(b13 == base216, "q216 changed with 13 shuffle partitions")
  }

  // ---- q216 event-time disorder audit

  test("q216: the two-level block prefix-max equals a shared-nothing " +
    "sequential high-water-mark recomputation, disorder is " +
    "non-vacuous (late and on-time both occur), and the only " +
    "single-partition exchange in the plan is the block window") {
    import graft.queries.Events
    val evs = Tables(spark, sf, "events")
      .selectExpr("event_id", "unix_micros(ts) div 1000000 as t")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val obs = evs.map { case (id, t) =>
      (id, t + refFeistel(id, 13L) % 601 - 300)
    }
    var hwm = Long.MinValue
    val lates = obs.map { case (_, ot) =>
      val late = if (hwm > ot) hwm - ot else 0L
      hwm = math.max(hwm, ot)
      late
    }
    val exp = lates.groupBy(_ / 60).map { case (b, ls) =>
      b -> (ls.length.toLong, ls.max)
    }
    val df = Events.q216.fn(spark, sf)
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == exp)
    assert(got.keySet.size > 1 && got.contains(0L),
      "need both on-time and late mass for the histogram to mean " +
        "anything")
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("windowspecdefinition(blk"),
      s"corpus window must partition by blk:\n$plan")
    val singles = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(singles == 1,
      s"expected exactly the block-max SinglePartition, got $singles")
  }

  // ---- q212 video gate

  test("videoReason: the oracle-unreachable branches fire on " +
    "constructed frames with the documented precedence — " +
    "undecodable over everything, zero_timescale over no_tracks, " +
    "and the 500 ms floor is exclusive (exactly 500 keeps)") {
    import spark.implicits._
    val f = Seq(
      // format, timescale, duration, n_traks
      ("unknown", 0L, 0L, 0L), // undecodable (even with zero ts)
      ("mp4", 0L, 100L, 0L), // zero_timescale wins over no_tracks
      ("mp4", 1000L, 400L, 0L), // no_tracks
      ("mp4", 1000L, 499L, 1L), // 499 ms -> too_short
      ("mp4", 1000L, 500L, 1L), // exactly 500 ms -> keep
      ("mp4", 600L, 299L, 2L), // 498 ms by floor div -> too_short
      ("mp4", 600L, 300L, 2L)) // 500 ms -> keep
      .toDF("format", "timescale", "duration", "n_traks")
    val got = f.select(Multimodal.videoReason.as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("undecodable", "zero_timescale", "no_tracks",
      "too_short", "keep", "too_short", "keep"))
  }

  test("q212 corpus: both reachable non-trivial verdicts occur " +
    "(too_short and keep — vacuity guard), and dur_ms matches the " +
    "generator arithmetic everywhere") {
    import graft.queries.MultimodalQueries
    val got = MultimodalQueries.q212.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val reasons = got.values.map(_._1).toSet
    assert(Set("too_short", "keep").subsetOf(reasons), s"$reasons")
    got.foreach { case (id, (reason, durMs)) =>
      if (id % 3 == 2) assert(reason == "undecodable" && durMs == 0)
      else {
        val exp = ((id % 1000 + 1) * 1000) / (600 + (id % 10) * 100)
        assert(durMs == exp, s"doc $id")
      }
    }
  }

  test("mediaGateStream routes all THREE modalities: a mixed " +
    "image+audio+video feed across micro-batches equals the " +
    "three-arg batch gate through the shared rule chains (sniff-" +
    "unknown remap for provenance-free garbage)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingEtl
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables(spark, sf, "documents")
    val img = Multimodal.asImageTable(docs)
      .select(($"media_id" * 3).as("media_id"), $"payload")
    val aud = Multimodal.asAudioTable(docs)
      .select(($"media_id" * 3 + 1).as("media_id"), $"payload")
    val vid = Multimodal.asVideoTable(docs)
      .select(($"media_id" * 3 + 2).as("media_id"), $"payload")
    val feed = img.unionByName(aud).unionByName(vid).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val input = MemoryStream[(Long, Array[Byte])]
    val q = StreamingEtl.mediaGateStream(
        input.toDF().toDF("media_id", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("media_gate_stream3").start()
    val (b1, b2) = feed.toSeq.splitAt(feed.length / 2)
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val sniff = feed.map { case (id, p) =>
      id -> Multimodal.sniffFormat(p)
    }.toMap
    val batch = Multimodal.mediaGate(
        Multimodal.decodeImageMeta(img),
        Multimodal.decodeAudioMeta(aud),
        Multimodal.decodeVideoMeta(vid))
      .collect().map { r =>
        val id = r.getLong(1)
        val mod = if (sniff(id) == "unknown") "unknown" else r.getString(0)
        Seq[Any](mod, id, r.getString(2))
      }.toSet
    assert(rows(spark.table("media_gate_stream3")) == batch)
    val mods = spark.table("media_gate_stream3").collect()
      .map(_.getString(0)).toSet
    assert(mods == Set("image", "audio", "video", "unknown"))
  }

  // ---- q211 budgeted quality selection

  test("q211: the bucket-decomposed selection equals a shared-nothing " +
    "global greedy (sort by quality, admit while cum <= budget), the " +
    "budget is tight (next doc in order would overflow), and the " +
    "boundary bucket genuinely splits (the partial path is " +
    "exercised, not vacuous)") {
    import graft.queries.Extras2
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val q = Extras2.q209.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val budget = docs.map(_._3).sum * 2 / 5
    val ordered = docs.filter(d => q.contains(d._1))
      .sortBy(d => (q(d._1), d._1))
    var cum = 0L
    val admitted = ordered.takeWhile { d =>
      cum += d._3; cum <= budget
    }
    val exp = admitted.groupBy(_._2).map { case (s, ds) =>
      s -> (ds.length.toLong, ds.map(_._3).sum)
    }
    val got = Extras2.q211.fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == exp)
    // tightness: the first rejected doc would overflow the budget
    val admChars = admitted.map(_._3).sum
    assert(admChars <= budget)
    if (admitted.length < ordered.length)
      assert(admChars + ordered(admitted.length)._3 > budget)
    // boundary split: the crossing deci-nat bucket has both admitted
    // and rejected docs (vacuity guard for the partial-window path)
    val admIds = admitted.map(_._1).toSet
    val byBkt = ordered.groupBy(d => q(d._1) / 100000)
    assert(byBkt.exists { case (_, ds) =>
      ds.exists(d => admIds(d._1)) && ds.exists(d => !admIds(d._1))
    }, "no bucket splits — the boundary path is vacuous at this sf")
  }

  // ---- epochShuffleStream

  test("epochShuffleStream: per-doc routes across micro-batch " +
    "boundaries equal the batch permutation, and a DIFFERENT arrival " +
    "partitioning routes identically (order independence — the " +
    "stateless-resume property)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingEtl
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ids = Tables(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    def run(name: String, batches: Seq[Seq[Long]]): Map[Long, (Long, Long)] = {
      val in = MemoryStream[Long]
      val q = StreamingEtl.epochShuffleStream(
          in.toDF().toDF("doc_id"), epoch = 2L)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      batches.foreach { b =>
        in.addData(b.toIndexedSeq); q.processAllAvailable()
      }
      q.stop()
      spark.table(name).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("y"), r.getAs[Long]("shard"))).toMap
    }
    val (a, b) = ids.toSeq.splitAt(ids.length / 2)
    val got1 = run("eshuf1", Seq(a, b))
    // a different micro-batch split, interleaved arrival order
    val (odd, even) = ids.toSeq.partition(_ % 2 == 1)
    val got2 = run("eshuf2", Seq(odd, even))
    assert(got1 == got2, "routes must not depend on arrival order")
    ids.foreach { id =>
      val y = refFeistel(id, 2L)
      assert(got1(id) == ((y, y % 8)), s"doc $id")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.sources.Warehouse
import graft.multimodal.Multimodal

/** Round-13 hardening pins — one test per closed ADVICE item, each
  * against the exact hostile input the advisory described:
  * three-valued-logic MERGE deletes, non-numeric Bloom keys, hostile
  * EXIF IFD offsets, NULL extents hidden inside two-level manifest
  * groups, and torn/malformed transaction journals.
  */
class Round13Spec extends SparkSpec {

  private def hexBytes(h: String): Array[Byte] =
    h.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  private def tmpWh(): Warehouse = Warehouse(
    java.nio.file.Files.createTempDirectory("r13-wh-").toString)

  // ---- mergeInto: NULL delete predicate ------------------------------

  test("mergeInto: a NULL WHEN-MATCHED-AND-delete predicate reads as " +
    "NOT satisfied — the matched row is updated, never silently dropped") {
    import spark.implicits._
    val wh = tmpWh()
    wh.overwrite(Seq((1L, "A", 10L), (2L, "B", 20L)).toDF("k", "st", "v"), "t")
    val src = Seq((1L, "x", 11L), (2L, "x", 22L)).toDF("k", "st", "v")
    // when(k === 1, true) is NULL for k=2 (no otherwise): under
    // three-valued logic an unguarded !(matched && NULL) filter drops
    // the k=2 row; Delta/Spark MERGE keeps and updates it
    wh.mergeInto(spark, "t", src, Seq("k"),
      Map("st" -> lit("U")), when(col("k") === 1L, lit(true)))
    val out = wh.read(spark, "t").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(out.toSeq == Seq((2L, "U", 20L)),
      "k=1 deleted (predicate true); k=2 updated (predicate NULL = false)")
  }

  // ---- BloomJoin: non-numeric keys ------------------------------------

  test("BloomJoin: STRING keys hash per-value — no false negatives and " +
    "real pruning (a cast-to-long bug would collapse all strings onto " +
    "one NULL position set and pass everything)") {
    import spark.implicits._
    val build = (0 until 50).map(i => s"key-${i * 17}").toDF("k")
    val probe = (0 until 5000).map(i => s"key-$i").toDF("k")
    val bits = ops.BloomJoin.buildBits(build, "k", m = 4096, k = 3)
    val kept = ops.BloomJoin.prefilter(probe, "k", bits, m = 4096, k = 3)
      .as[String].collect().toSet
    val truth = build.as[String].collect().toSet
      .filter(_.drop(4).toInt < 5000)
    assert(truth.subsetOf(kept),
      "a Bloom filter must never drop a true match")
    assert(kept.size < 500,
      s"string-keyed prefilter must prune the bulk of 5000 probes " +
        s"(kept ${kept.size})")
  }

  // ---- jpegExif: hostile IFD offsets ----------------------------------

  // exifII from Round12bSpec, reproduced: valid II Exif with the
  // 32-bit IFD offset at bytes 14..17 (t0 = 10)
  private val exifII = hexBytes(
    "FFD8" + "FFE1" + "003A" + "457869660000" +
      "4949" + "2A00" + "08000000" + "0300" +
      "0001" + "0400" + "01000000" + "80020000" +
      "0101" + "0400" + "01000000" + "E0010000" +
      "1201" + "0300" + "01000000" + "06000000" +
      "00000000" + "FFD9")

  test("jpegExif: an IFD offset >= 2^31 (negative after toInt) is " +
    "refused as None, not an executor ArrayIndexOutOfBounds") {
    val hostile = exifII.clone()
    // LE 0x80000000 at the offset field
    hostile(14) = 0x00; hostile(15) = 0x00
    hostile(16) = 0x00; hostile(17) = 0x80.toByte
    assert(Multimodal.jpegExif(hostile).isEmpty)
  }

  test("jpegExif: an IFD offset pointing BEFORE the TIFF header " +
    "(< 8) is refused as None") {
    val hostile = exifII.clone()
    hostile(14) = 0x00 // offset 0: inside the TIFF byte-order mark
    assert(Multimodal.jpegExif(hostile).isEmpty)
  }

  // ---- two-level manifest: NULL extents inside a group ----------------

  test("prunedFilesTwoLevel: a NULL-extent file grouped with non-NULL " +
    "files survives a range that misses the group's non-NULL extent") {
    import spark.implicits._
    val wh = tmpWh()
    // three single-partition appends = three data files with known
    // per-file extents: A all-NULL c, B c in [0,9], C c in [100,109]
    wh.append(Seq.fill(5)(Option.empty[Long]).toDF("c")
      .repartition(1), "t")
    wh.append((0L to 9L).map(Option(_)).toDF("c").repartition(1), "t")
    wh.append((100L to 109L).map(Option(_)).toDF("c").repartition(1), "t")
    wh.writeManifest(spark, "t", Seq("c"))
    // groupSize 2: NULLS FIRST ordering puts A+B in group 0 (non-NULL
    // extent [0,9]), C alone in group 1
    wh.writeTwoLevelManifest(spark, "t", "c", groupSize = 2)
    val (kept, gTotal, gKept, consulted) =
      wh.prunedFilesTwoLevel(spark, "t", "c", 100L, 109L)
    assert(gTotal == 2)
    // group 0's [0,9] extent misses [100,109] but it hides file A
    // (NULL extents) — the has_null_extent flag must keep the group,
    // then file-grain pruning keeps A and drops B
    assert(gKept == 2, "the NULL-hiding group must be kept")
    assert(kept.size == 2, s"expected A (NULL extents) + C, got $kept")
    // flat consult agrees: same conservative NULL handling
    val (flat, _) = wh.prunedFiles(spark, "t", "c", 100L, 109L)
    assert(kept.toSet == flat.toSet,
      "two-level and flat consults must keep the same files")
  }

  // ---- group-level-first consults (r13 tasks 5/6) ----------------------

  test("prunedFilesAll consults group-level first when the two-level " +
    "manifest exists, keeping exactly the flat manifest's files") {
    import spark.implicits._
    val wh = tmpWh()
    val df = (0L until 4000L).map(i => (i, i % 97)).toDF("k", "v")
    wh.overwrite(df.repartitionByRange(16, col("k"))
      .sortWithinPartitions("k"), "t")
    wh.writeManifest(spark, "t", Seq("k"))
    wh.writeTwoLevelManifest(spark, "t", "k", groupSize = 4)
    val (kept, total) = wh.prunedFiles(spark, "t", "k", 100L, 350L)
    assert(total == 16)
    // flat expectation computed directly from the file manifest
    val expected = spark.read.parquet(wh.root + "/t__manifest")
      .filter(col("min_k") <= 350L && col("max_k") >= 100L)
      .select("file").as[String].collect().toSet
    assert(kept.toSet == expected,
      "group-level-first consult must keep the flat consult's files")
    // and the consult's driver pull is bounded by surviving groups
    val (_, gTot, gKept, pulled) =
      wh.prunedFilesTwoLevel(spark, "t", "k", 100L, 350L)
    assert(gKept < gTot && pulled <= gKept * 4,
      s"file rows pulled ($pulled) must be <= surviving groups x size")
    assert(wh.readPruned(spark, "t", "k", 100L, 350L).count() == 251L)
  }

  // ---- PNG pixel tier (r13 task 3) -------------------------------------

  // LSB-first bit writer for hand-encoding deflate test vectors
  private class BitW {
    private val bytes = scala.collection.mutable.ArrayBuffer.empty[Int]
    private var cur = 0; private var n = 0
    def putLsb(v: Int, bits: Int): Unit = {
      var i = 0
      while (i < bits) {
        cur |= ((v >> i) & 1) << n; n += 1
        if (n == 8) { bytes += cur; cur = 0; n = 0 }
        i += 1
      }
    }
    // Huffman codes go on the wire most-significant code bit first
    def putMsb(v: Int, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) { putLsb((v >> i) & 1, 1); i -= 1 }
    }
    def result(): Array[Byte] = {
      val out = bytes.toArray :+ (if (n > 0) cur else -1)
      (if (n > 0) out else bytes.toArray).filter(_ >= 0).map(_.toByte)
    }
  }

  private def fixedLit(bw: BitW, b: Int): Unit =
    if (b < 144) bw.putMsb(48 + b, 8) else bw.putMsb(400 + (b - 144), 9)

  test("inflate: a fixed-Huffman block with 9-bit literals and an " +
    "LZ77 length/distance repeat decodes exactly; dynamic is None") {
    val bw = new BitW
    bw.putLsb(1, 1) // BFINAL
    bw.putLsb(1, 2) // BTYPE fixed
    // literals: 10, 200 (9-bit range), 30
    Seq(10, 200, 30).foreach(fixedLit(bw, _))
    // repeat length 4, distance 3 -> copies 10,200,30,10
    bw.putMsb(0 + (257 - 256 + 23 - 22), 7) // len code 258 = 7-bit code 2
    bw.putMsb(2, 5) // dist code 2 = distance 3, no extra bits
    bw.putMsb(0, 7) // end of block (code 256 = 7-bit 0)
    val body = bw.result()
    val z = Array[Byte](0x78.toByte, 0x01) ++ body ++ Array.fill(4)(0.toByte)
    val got = Multimodal.inflate(z, 16)
    assert(got.map(_.toSeq.map(_ & 0xff)) ==
      Some(Seq(10, 200, 30, 10, 200, 30, 10)))
    // dynamic-Huffman block type is refused, not misparsed
    val dyn = new BitW
    dyn.putLsb(1, 1); dyn.putLsb(2, 2)
    assert(Multimodal.inflate(
      Array[Byte](0x78.toByte, 0x01) ++ dyn.result(), 16).isEmpty)
    // truncated stream resolves to None, never a throw
    assert(Multimodal.inflate(z.dropRight(6), 16).isEmpty)
  }

  test("inflate: stored blocks round-trip, bad NLEN is refused") {
    val payload = (0 until 40).map(i => ((i * 37) % 256).toByte).toArray
    val len = payload.length
    val z = Array[Byte](0x78.toByte, 0x01, 0x01,
      (len & 0xff).toByte, ((len >> 8) & 0xff).toByte,
      (~len & 0xff).toByte, ((~len >> 8) & 0xff).toByte) ++
      payload ++ Array.fill(4)(0.toByte)
    assert(Multimodal.inflate(z, 64).map(_.toSeq) == Some(payload.toSeq))
    val bad = z.clone(); bad(5) = (bad(5) ^ 1).toByte
    assert(Multimodal.inflate(bad, 64).isEmpty)
  }

  test("pngPixels: every filter type reconstructs byte-exactly on a " +
    "hand-built 2x3 image (one row per filter class)") {
    // pixels (2 wide, 3 rows, RGB): visual bytes 0..17 scaled
    val px = Array.tabulate(18)(i => (i * 13 % 256))
    // encode rows with filters: row0 Sub(1), row1 Up(2), row2 Paeth(4)
    val rowLen = 7
    val raw = new Array[Byte](3 * rowLen)
    raw(0) = 1
    for (c <- 0 until 6) {
      val a = if (c >= 3) px(c - 3) else 0
      raw(1 + c) = ((px(c) - a) & 0xff).toByte
    }
    raw(rowLen) = 2
    for (c <- 0 until 6)
      raw(rowLen + 1 + c) = ((px(6 + c) - px(c)) & 0xff).toByte
    raw(2 * rowLen) = 4
    for (c <- 0 until 6) {
      val a = if (c >= 3) px(12 + c - 3) else 0
      val b = px(6 + c)
      val d = if (c >= 3) px(6 + c - 3) else 0
      val pr = a + b - d
      val pa = math.abs(pr - a); val pb = math.abs(pr - b)
      val pd = math.abs(pr - d)
      val pred = if (pa <= pb && pa <= pd) a else if (pb <= pd) b else d
      raw(2 * rowLen + 1 + c) = ((px(12 + c) - pred) & 0xff).toByte
    }
    val n = raw.length
    val zlib = Array[Byte](0x78.toByte, 0x01, 0x01,
      (n & 0xff).toByte, ((n >> 8) & 0xff).toByte,
      (~n & 0xff).toByte, ((~n >> 8) & 0xff).toByte) ++
      raw ++ Array.fill(4)(0.toByte)
    def be4(v: Int) = Array[Byte](((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      (v & 0xff).toByte)
    val png = hexBytes("89504E470D0A1A0A" + "0000000D" + "49484452") ++
      be4(2) ++ be4(3) ++
      hexBytes("0802000000" + "00000000") ++
      be4(zlib.length) ++ "IDAT".getBytes("US-ASCII") ++ zlib ++
      hexBytes("00000000") ++
      hexBytes("00000000") ++ "IEND".getBytes("US-ASCII") ++
      hexBytes("00000000")
    val got = Multimodal.pngPixels(png)
    assert(got.isDefined, "the hand-built PNG must decode")
    val (w, h, out) = got.get
    assert(w == 2 && h == 3)
    assert(out.toSeq.map(_ & 0xff) == px.toSeq)
  }

  test("cross-format pixel hash: the same content as bottom-up BMP " +
    "and as filtered PNG hashes identically for every doc") {
    import spark.implicits._
    val docs = (1L to 60L).map(i => (i, s"doc $i", "s"))
      .toDF("doc_id", "text", "source")
    val hashed = Multimodal.crossFormatHash(
      Multimodal.asPixelPairTable(docs))
      .as[(Long, Long, Long)].collect()
    assert(hashed.length == 60)
    assert(hashed.forall(r => r._2 >= 0 && r._3 >= 0),
      "every generated payload must decode")
    assert(hashed.forall(r => r._2 == r._3),
      "container must not change the content hash")
  }

  test("decodePngMeta agrees with the closed-form pixel sums on the " +
    "generated corpus (all five filters in play)") {
    import spark.implicits._
    val docs = (1L to 45L).map(i => (i, s"doc $i", "s"))
      .toDF("doc_id", "text", "source")
    val got = Multimodal.decodePngMeta(Multimodal.asPngPixelTable(docs))
      .as[(Long, String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    (1L to 45L).foreach { id =>
      val r = got(id)
      if (id % 3 == 2) assert(r._2 == "unknown" && r._5 == 0L)
      else {
        val w = (id % 6 + 1).toInt; val h = (id % 4 + 1).toInt
        val vs = (0 until h * 3 * w).map(k => (id * 7 + k) % 251)
        assert(r._2 == "png" && r._3 == w && r._4 == h,
          s"id $id geometry")
        assert(r._5 == vs.sum, s"id $id pix_sum")
        assert(r._6 == vs.take(3 * w).sum, s"id $id top_row_sum")
        assert(r._7 == 68L + h * (1 + 3 * w), s"id $id n_bytes")
      }
    }
  }

  // ---- CAS multi-writer commit (r13 task 7) -----------------------------

  test("casAppend: two uncoordinated writers interleave — one commit " +
    "wins each version, the loser retries cleanly, no rows lost") {
    import spark.implicits._
    val wh = tmpWh()
    var raced = false
    // writer A stages and reads head=0; in its commit window writer B
    // runs a FULL append (stage + CAS) and wins version 1; A's CAS at
    // 1 fails, it re-reads head and lands at 2
    val vA = wh.casAppend(Seq((1L, "A")).toDF("k", "who"), "t",
      beforeCommit = () => {
        if (!raced) {
          raced = true
          val vB = wh.casAppend(Seq((2L, "B")).toDF("k", "who"), "t")
          assert(vB == 1, "the mid-window competitor must win v1")
        }
      })
    assert(vA == 2, s"the loser must retry into v2, got $vA")
    assert(wh.casHead("t") == 2)
    val rows = wh.casRead(spark, "t").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "A"), (2L, "B")), "no rows may be lost")
  }

  test("casReplace: a conflicting append forces the merge to recompute " +
    "against the NEW snapshot, never a stale base") {
    import spark.implicits._
    val wh = tmpWh()
    wh.casAppend(Seq((1L, 10L)).toDF("k", "v"), "t")
    var raced = false
    var applications = 0
    // the replace doubles every v; mid-window a competitor appends a
    // new row — the first attempt's output (computed without that row)
    // must be DISCARDED and the transform re-run over both rows
    val ver = wh.casReplace(spark, "t", beforeCommit = () => {
      if (!raced) { raced = true; wh.casAppend(
        Seq((2L, 100L)).toDF("k", "v"), "t") }
    }) { cur => applications += 1; cur.withColumn("v", col("v") * 2L) }
    assert(applications == 2, "the stale first attempt must be retried")
    assert(ver == 3)
    val rows = wh.casRead(spark, "t").as[(Long, Long)].collect().toSet
    assert(rows == Set((1L, 20L), (2L, 200L)),
      "the committed merge must include the competitor's row")
  }

  test("casReplace compacts the read path: commits before the last " +
    "REPLACE are not opened; retries exhaust into CommitConflict") {
    import spark.implicits._
    val wh = tmpWh()
    wh.casAppend(Seq(1L).toDF("k"), "t")
    wh.casAppend(Seq(2L).toDF("k"), "t")
    wh.casReplace(spark, "t")(cur => cur.filter(col("k") === 2L))
    wh.casAppend(Seq(3L).toDF("k"), "t")
    assert(wh.casRead(spark, "t").as[Long].collect().toSet == Set(2L, 3L))
    // a writer that loses every race must surface, not spin: seed a
    // competitor INSIDE every commit window
    val boom = intercept[Exception] {
      wh.casAppend(Seq(9L).toDF("k"), "t", retries = 2,
        beforeCommit = () => {
          wh.casAppend(Seq(0L).toDF("k"), "t"); ()
        })
    }
    assert(boom.getMessage.contains("CAS races"))
  }

  // ---- complete inflate: dynamic Huffman vs the JDK encoder ------------

  private def jdkDeflate(data: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level, false)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  test("inflate: round-trips the JDK Deflater's real output — " +
    "dynamic-Huffman blocks, every compression level, assorted data " +
    "shapes") {
    val shapes: Seq[Array[Byte]] = Seq(
      // highly repetitive: long LZ77 matches, dynamic tables
      Array.fill(5000)("abcabcab".getBytes("US-ASCII")).flatten.toArray,
      // pseudo-random full-byte-range: literal-heavy
      Array.tabulate(3000)(i => ((i * 131 + 17) % 256).toByte),
      // text-like: skewed symbol frequencies (dynamic's sweet spot)
      ("the quick brown fox jumps over the lazy dog " * 200)
        .getBytes("US-ASCII"),
      // tiny input (often a stored or fixed block)
      "x".getBytes("US-ASCII"),
      Array.emptyByteArray)
    for (data <- shapes; level <- Seq(0, 1, 5, 9)) {
      val z = jdkDeflate(data, level)
      val got = Multimodal.inflate(z, data.length.max(1))
      assert(got.isDefined,
        s"level $level, ${data.length} bytes: decode must succeed")
      assert(java.util.Arrays.equals(got.get, data),
        s"level $level, ${data.length} bytes: content must round-trip")
    }
  }

  test("asPngDeflateTable payloads decode through the from-scratch " +
    "path to the closed-form pixel sums (real dynamic streams)") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"d$i", "s"))
      .toDF("doc_id", "text", "source")
    val got = Multimodal.decodePngMeta(
        Multimodal.asPngDeflateTable(docs))
      .select("media_id", "format", "width", "height", "pix_sum")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(got.length == 40)
    got.foreach { case (id, fmt, w, h, ps) =>
      assert(fmt == "png", s"id $id must decode (got $fmt)")
      val ew = id % 6 + 1; val eh = id % 4 + 1
      assert(w == ew && h == eh)
      assert(ps == (0 until (3 * ew * eh).toInt)
        .map(k => (id * 7 + k) % 251).sum, s"id $id pix_sum")
    }
  }

  test("casAppendStats + casReadPruned: commit-grain stats skip " +
    "non-overlapping commits; NULL-extent waves are kept " +
    "conservatively; results equal the full-scan filter") {
    import spark.implicits._
    val wh = tmpWh()
    Seq((0L, 25L), (25L, 50L), (50L, 75L), (75L, 100L)).foreach {
      case (a, b) =>
        wh.casAppendStats(spark,
          (a until b).map(v => (v, v * 10)).toDF("bucket", "payload"),
          "t", "bucket")
    }
    // an all-NULL wave: `-` extents, must survive every consult
    wh.casAppendStats(spark,
      Seq.fill(3)((Option.empty[Long], 0L)).toDF("bucket", "payload"),
      "t", "bucket")
    val (kept, total) = wh.casPrunedCommits("t", 30L, 60L)
    assert(total == 5)
    assert(kept.size == 3,
      s"[30,60] overlaps waves [25,50)+[50,75) plus the NULL wave, " +
        s"got ${kept.size}")
    val got = wh.casReadPruned(spark, "t", "bucket", 30L, 60L)
      .as[(Option[Long], Long)].collect().toSet
    val full = wh.casRead(spark, "t")
      .filter(col("bucket").between(30L, 60L))
      .as[(Option[Long], Long)].collect().toSet
    assert(got == full && got.size == 31,
      "pruned read must equal the full-scan filter")
  }

  test("casAppendBatch: a replayed (stream, batchId) is deduplicated " +
    "— None returned, no second copy lands; a foreign writer's " +
    "commit interleaves safely; orphans vacuum away") {
    import spark.implicits._
    val wh = tmpWh()
    assert(wh.casAppendBatch(Seq(1L).toDF("k"), "t", "s1", 0L).isDefined)
    // a concurrent plain writer of the same table
    wh.casAppend(Seq(100L).toDF("k"), "t")
    assert(wh.casAppendBatch(Seq(2L).toDF("k"), "t", "s1", 1L).isDefined)
    // recovery replay: batch 1 re-delivered with the same id
    assert(wh.casAppendBatch(Seq(2L).toDF("k"), "t", "s1", 1L).isEmpty,
      "a committed batch id must be dropped, not landed twice")
    // a DIFFERENT stream may reuse the same batch id
    assert(wh.casAppendBatch(Seq(9L).toDF("k"), "t", "s2", 1L).isDefined)
    assert(wh.casRead(spark, "t").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 9L, 100L))
    // orphan: stage-without-commit residue (a crashed writer) is
    // vacuumed; every committed dir survives
    val orphan = new java.io.File(
      new java.io.File(wh.root + "/t__data"), "orphan-dir")
    orphan.mkdirs()
    val removed = wh.casVacuum("t", minAgeMs = 0L)
    assert(removed.exists(_.endsWith("orphan-dir")) && removed.size == 1)
    assert(wh.casRead(spark, "t").count() == 4L,
      "vacuum must never touch committed data")
    // grace window: a just-staged dir survives a min-age vacuum
    val fresh = new java.io.File(
      new java.io.File(wh.root + "/t__data"), "inflight")
    fresh.mkdirs()
    assert(wh.casVacuum("t").isEmpty,
      "the default grace window must protect a just-staged writer")
  }

  test("casSink: the streaming sink lands each micro-batch exactly " +
    "once through the CAS log (batch ≡ stream on the same rows)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh = tmpWh()
    val ckpt = java.nio.file.Files
      .createTempDirectory("r13-ckpt-").toString
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "a"), (2L, "b"))
    val q1 = graft.streaming.StreamingEtl.casSink(
      input.toDF().toDF("k", "v"), wh, "t", "feed", ckpt)
    q1.awaitTermination()
    input.addData((3L, "c"))
    val q2 = graft.streaming.StreamingEtl.casSink(
      input.toDF().toDF("k", "v"), wh, "t", "feed", ckpt)
    q2.awaitTermination()
    assert(wh.casRead(spark, "t").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("pngPixelsCt: grayscale and RGBA decode with the correct " +
    "per-pixel filter offset — a bpp=3 assumption would corrupt " +
    "Sub/Paeth rows of both") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, s"d$i", "s"))
      .toDF("doc_id", "text", "source")
    val got = Multimodal.decodePngCtMeta(
        Multimodal.asPngColorTable(docs))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length == 30)
    got.foreach { case (id, ct, w, h, ps, trs) =>
      val ect = (id % 3) match { case 0 => 0L; case 1 => 2L; case _ => 6L }
      val bpp = ect match { case 0L => 1; case 2L => 3; case _ => 4 }
      assert(ct == ect && w == id % 6 + 1 && h == id % 4 + 1,
        s"id $id header")
      val vs = (0 until (bpp * w * h).toInt).map(k => (id * 7 + k) % 251)
      assert(ps == vs.sum, s"id $id pix_sum (ct $ct)")
      assert(trs == vs.take((bpp * w).toInt).sum, s"id $id top row")
    }
  }

  test("casCheckpoint: replay stops at the checkpoint (one commit " +
    "carries the snapshot), stats survive through it, vacuum keeps " +
    "checkpointed data, and post-checkpoint commits compose") {
    import spark.implicits._
    val wh = tmpWh()
    Seq((0L, 25L), (25L, 50L), (50L, 75L)).foreach { case (a, b) =>
      wh.casAppendStats(spark,
        (a until b).map(v => (v, v)).toDF("bucket", "payload"),
        "t", "bucket")
    }
    val ckptV = wh.casCheckpoint("t")
    assert(ckptV == 4)
    wh.casAppendStats(spark,
      (75L until 100L).map(v => (v, v)).toDF("bucket", "payload"),
      "t", "bucket")
    // full read sees all four waves
    assert(wh.casRead(spark, "t").count() == 100L)
    // commit-grain stats SURVIVE the checkpoint: [30,60] still skips
    // the [0,25) and [75,100) waves
    val (kept, total) = wh.casPrunedCommits("t", 30L, 60L)
    assert(total == 4 && kept.size == 2,
      s"stats must prune through the checkpoint (kept ${kept.size})")
    assert(wh.casReadPruned(spark, "t", "bucket", 30L, 60L)
      .count() == 31L)
    // vacuum must treat snapshot lines as references
    assert(wh.casVacuum("t").isEmpty,
      "checkpointed waves are live and must survive vacuum")
    assert(wh.casRead(spark, "t").count() == 100L)
    // a replayed streaming batch inside a checkpoint still dedups
    wh.casAppendBatch(Seq(1L).toDF("k2"), "t2", "s", 7L)
    wh.casCheckpoint("t2")
    assert(wh.casAppendBatch(Seq(1L).toDF("k2"), "t2", "s", 7L).isEmpty)
  }

  test("Adam7: interlaced and sequential encodings of the same " +
    "content decode to IDENTICAL pixels across geometries, including " +
    "empty-pass edges and full seven-pass images") {
    for ((w, h) <- Seq((1, 1), (2, 3), (5, 4), (7, 8), (8, 8),
      (13, 11), (16, 9))) {
      val px = Array.tabulate(3 * w * h)(k => ((k * 37 + 11) % 251).toByte)
      val seq7 = Multimodal.buildPng(px, w, h, r => r % 5, 6)
      val il = Multimodal.buildPng(px, w, h, r => r % 5, 6,
        colorType = 2, interlaced = true)
      val a = Multimodal.pngPixels(seq7)
      val b = Multimodal.pngPixels(il)
      assert(a.isDefined && b.isDefined, s"${w}x$h must decode both ways")
      assert(java.util.Arrays.equals(a.get._3, b.get._3),
        s"${w}x$h: interlacing must be storage-order only")
      assert(java.util.Arrays.equals(a.get._3, px),
        s"${w}x$h: decoded content must equal the source pixels")
    }
  }

  test("Adam7: the interlaced corpus generator decodes to the " +
    "closed-form sums (all seven passes live on large geometries)") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"d$i", "s"))
      .toDF("doc_id", "text", "source")
    val got = Multimodal.decodePngMeta(
        Multimodal.asPngInterlacedTable(docs))
      .select("media_id", "format", "width", "height", "pix_sum")
      .as[(Long, String, Long, Long, Long)].collect()
    got.foreach { case (id, fmt, w, h, ps) =>
      assert(fmt == "png" && w == id % 13 + 1 && h == id % 9 + 1,
        s"id $id header (got $fmt ${w}x$h)")
      assert(ps == (0 until (3 * w * h).toInt)
        .map(k => (id * 7 + k) % 251).sum, s"id $id pix_sum")
    }
  }

  test("pngAllTextChunks: zTXt values decompress through the shared " +
    "inflate; hostile method byte / broken stream / zip-bomb cap all " +
    "poison the walk to None") {
    import spark.implicits._
    val docs = (1L to 24L).map(i => (i, s"d$i", "s"))
      .toDF("doc_id", "text", "source")
    val rows = Multimodal.decodePngAllText(
        Multimodal.asPngZTextTable(docs))
      .as[(Long, String, String, String)].collect()
    assert(rows.length == (1L to 24L).map(_ % 3 + 1).sum)
    rows.foreach { case (id, kw, kind, v) =>
      val j = v // recompute j from content: find the j with this value
      val n = (id % 3 + 1).toInt
      val ok = (0 until n).exists { jj =>
        kw == Seq("Author", "Title", "Comment")(((id + jj) % 3).toInt) &&
          kind == (if ((id + jj) % 2 == 0) "tEXt" else "zTXt") &&
          v == f"${(id * 13 + jj) % 16777216}%06X"
      }
      assert(ok, s"id $id row ($kw, $kind, $v) matches no closed form")
    }
    assert(rows.exists(_._3 == "zTXt") && rows.exists(_._3 == "tEXt"),
      "both chunk kinds must occur (vacuity)")
    // hostile: method byte != 0 poisons the walk
    val good = Multimodal.asPngZTextTable(docs.filter(col("doc_id") === 1L))
      .select("payload").as[Array[Byte]].head()
    // find a zTXt chunk and corrupt its method byte: id=1 has chunks
    // j=0 (odd -> zTXt) and j=1 (even -> tEXt)
    val zAt = {
      var k = -1
      for (i <- 0 until good.length - 4)
        if (k < 0 && good(i) == 'z' && good(i + 1) == 'T' &&
          good(i + 2) == 'X' && good(i + 3) == 't') k = i
      k
    }
    assert(zAt > 0)
    val bad = good.clone()
    // method byte follows "zTXt" + keyword + NUL; keyword here is
    // Title (j=0: (1+0)%3=1) = 5 chars
    bad(zAt + 4 + 5 + 1) = 1
    assert(Multimodal.pngAllTextChunks(bad).isEmpty,
      "unknown compression method must poison the walk")
    val torn = good.clone()
    torn(zAt + 4 + 5 + 2) = (torn(zAt + 4 + 5 + 2) ^ 0x55).toByte
    assert(Multimodal.pngAllTextChunks(torn).isEmpty,
      "a corrupted zlib header must poison the walk")
  }

  // ---- transaction journal: torn/malformed lines ----------------------

  test("recoverTransact: malformed journal lines are skipped, " +
    "well-formed swaps still roll forward, and the journal clears") {
    import spark.implicits._
    val wh = tmpWh()
    val root = wh.root
    // a staged table waiting to land, as transact would leave it
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite")
      .parquet(s"$root/t__txn_staged")
    val journal = new java.io.File(s"$root/__txn_journal.txt")
    // torn trailing line (missing fields) + junk + one valid SWAP:
    // recovery must not MatchError; the valid swap must complete
    java.nio.file.Files.write(journal.toPath,
      (s"SWAP $root/t__txn_staged $root/t $root/t__txn_trash\n" +
        "SWAP /only/two\n" + "GARBAGE\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    wh.recoverTransact()
    assert(!journal.exists(), "journal must clear after recovery")
    assert(wh.read(spark, "t").count() == 1L, "the valid swap landed")
    assert(!new java.io.File(s"$root/t__txn_staged").exists())
  }

  test("transact: journal writes land atomically — no .tmp residue, " +
    "and both tables carry the new snapshot") {
    import spark.implicits._
    val wh = tmpWh()
    wh.overwrite(Seq((1L, 1L)).toDF("k", "v"), "a")
    wh.overwrite(Seq((1L, 1L)).toDF("k", "v"), "b")
    wh.transact(Seq(
      "a" -> Seq((1L, 2L)).toDF("k", "v"),
      "b" -> Seq((1L, 2L)).toDF("k", "v")))
    assert(wh.read(spark, "a").select("v").head().getLong(0) == 2L)
    assert(wh.read(spark, "b").select("v").head().getLong(0) == 2L)
    val leftovers = Option(new java.io.File(wh.root).listFiles())
      .getOrElse(Array()).filter(_.getName.endsWith(".tmp"))
    assert(leftovers.isEmpty,
      s"atomic journal write must not leave temp files: ${leftovers.toSeq}")
  }
}

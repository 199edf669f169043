package graft

import org.apache.spark.sql.functions._
import graft.sim.Similarity
import graft.text.TextOps

/** Unit coverage for the text/similarity primitives. */
class TextSimSpec extends SparkSpec {
  import spark.implicits._

  test("normalize lowers and strips to [a-z0-9 ]") {
    val out = Seq("Hello, World! 42").toDF("t")
      .select(TextOps.normalize($"t")).as[String].head()
    assert(out == "hello world 42")
  }

  test("shinglePositions: stride and short-string floor") {
    val ps = Seq("abcdefghij").toDF("t") // len 10, k=8 → stop 3
      .select(TextOps.shinglePositions($"t", 8, 4))
      .as[Seq[Int]].head()
    assert(ps == Seq(1))
    val ps2 = Seq("abc").toDF("t") // shorter than k → single position
      .select(TextOps.shinglePositions($"t", 8, 4)).as[Seq[Int]].head()
    assert(ps2 == Seq(1))
  }

  test("minhash is deterministic and order-insensitive") {
    val a = Seq("x", "y", "z").toDF("sh")
      .agg(TextOps.minhash($"sh", 0)).as[String].head()
    val b = Seq("z", "x", "y").toDF("sh")
      .agg(TextOps.minhash($"sh", 0)).as[String].head()
    assert(a == b)
  }

  test("markerHits counts duplicate-aware") {
    val n = Seq("the cat the dog a bird").toDF("t")
      .select(TextOps.markerHits($"t", Seq("the", "a"))).as[Int].head()
    assert(n == 3)
  }

  test("bpeChunks: GPT-2-style pre-tokenizer on mixed text") {
    val chunks = Seq("don't stop 42 times!").toDF("t")
      .select(TextOps.bpeChunks($"t")).as[Seq[String]].head()
    assert(chunks == Seq("don", "'t", " stop", " 42", " times", "!"))
    // letters-and-spaces text degenerates to space-prefixed words
    val simple = Seq("key agg row").toDF("t")
      .select(TextOps.bpeChunks($"t")).as[Seq[String]].head()
    assert(simple == Seq("key", " agg", " row"))
  }

  test("hexDigit parses md5 hex chars") {
    // md5("hello") = 5d41402abc4b2a76b9719d911017c592
    val d = Seq("hello").toDF("t")
      .select(TextOps.hexDigit(md5($"t"), lit(1)),
        TextOps.hexDigit(md5($"t"), lit(2))).head()
    assert(d.getInt(0) == 5 && d.getInt(1) == 13)
  }

  test("cosine: identical=1, orthogonal=0 (double fold over floats)") {
    val df = Seq(
      (Array(1f, 0f, 2f), Array(1f, 0f, 2f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f))).toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("c"))
    val cs = df.as[Double].collect()
    assert(math.abs(cs(0) - 1.0) < 1e-12 && math.abs(cs(1)) < 1e-12)
  }

  test("planeComponent matches the md5-hex-digit construction") {
    // spot-check against java md5 directly
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("2:7".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected = Integer.parseInt(hex.substring(0, 1), 16) - 7.5
    assert(Similarity.planeComponent(2, 7) == expected)
  }

  test("lshBucket: deterministic, within [0, 2^planes)") {
    val df = Seq(Array.tabulate(64)(i => (i % 5 - 2).toFloat)).toDF("e")
      .select(Similarity.lshBucket($"e", 4, 64).as("b"))
    val b1 = df.as[Long].head()
    val b2 = df.as[Long].head()
    assert(b1 == b2 && b1 >= 0 && b1 < 16)
  }

  test("Approx sketches track exact values within tolerance") {
    import graft.ops.Approx
    val df = (1 to 5000).map(i => (i % 997).toLong).toDF("v")
    val r = df.agg(Approx.approxDistinct($"v").as("ad"),
      Approx.approxQuantile($"v", 0.5).as("aq")).head()
    assert(math.abs(r.getLong(0) - 997L) <= 40) // 2% rsd sketch
    assert(math.abs(r.getAs[Number](1).doubleValue() - 498.0) <= 10)
  }

  test("heavyHitters equals the exact GROUP BY/HAVING result") {
    import graft.ops.Approx
    // skewed stream: 'a' 40%, 'b' 25%, 120 singletons (tail)
    val vals = Seq.fill(80)("a") ++ Seq.fill(50)("b") ++
      (1 to 120).map(i => s"t$i")
    val df = vals.toDF("w")
    val hh = Approx.heavyHitters(df, "w", 0.1)
      .as[(String, Long)].collect().toSet
    val n = vals.size
    val exact = vals.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 > n * 0.1).toMap
    assert(hh == exact.toSet && hh.map(_._1) == Set("a", "b"))
  }

  test("nearDupPairs: cap excludes oversize buckets, keeps small ones") {
    // v and -v land in complementary LSH buckets (every plane dot flips
    // sign); 10 copies of v exceed maxBucket=3 → contribute NO pairs,
    // the 2 copies of -v form the single surviving (identical) pair
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val neg = v.map(-_)
    val e = ((1 to 10).map(i => (i.toLong, v)) ++
      Seq((100L, neg), (101L, neg))).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(e, nPlanes = 2, dim = 8,
      maxBucket = 3, minSim = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L)))
    // with a cap that admits the big bucket, its C(10,2) pairs appear
    val uncapped = Similarity.nearDupPairs(e, 2, 8, 40, 0.2).count()
    assert(uncapped == 45L + 1L)
  }

  test("Materialized: builds once per key, rebuilds after clear") {
    var builds = 0
    def get() = Materialized(spark, "textsim-spec-artifact") {
      builds += 1
      Seq(1, 2, 3).toDF("x")
    }
    assert(get().count() == 3 && get().count() == 3 && builds == 1)
    Materialized.clear(spark)
    assert(get().count() == 3 && builds == 2)
    Materialized.clear(spark)
  }

  test("SessionScratch.once: a write may call once for other keys — " +
    "each of 2,000 nested keys writes exactly once, whichever keys " +
    "share a map bin") {
    // more nested keys than the scratch map has bins, so some share
    // one; its own thread, for the stack the nesting needs
    val base = s"nest-${java.util.UUID.randomUUID()}"
    val depth = 2000
    val writes = new java.util.concurrent.atomic.AtomicInteger
    def nest(i: Int): Unit = SessionScratch.once(spark, s"$base:$i") {
      writes.incrementAndGet()
      if (i < depth) nest(i + 1)
    }
    var failure: Option[Throwable] = None
    val t = new Thread(null, () =>
      try { nest(0); nest(0) }
      catch { case e: Throwable => failure = Some(e) },
      "scratch-nest", 64L << 20)
    t.start()
    t.join()
    assert(failure.isEmpty, s"nested once failed: $failure")
    assert(writes.get() == depth + 1)
  }

  test("multimodal byteSumFeatures: deterministic features and frames") {
    import graft.multimodal.Multimodal
    val payload = "abcdabcd".getBytes("UTF-8")
    val (frames, feat) = Multimodal.byteSumFeatures(payload)
    assert(frames == 1L)
    assert(math.abs(feat(0) - 2 * 'a'.toInt / 255.0) < 1e-12)
    assert(math.abs(feat(3) - 2 * 'd'.toInt / 255.0) < 1e-12)
  }
}

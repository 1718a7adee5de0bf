package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.ml.Scrubber

class OperatorSpec extends SparkSpec {
  import spark.implicits._

  private val docRows = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),        // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),      // near dup of 1
    (4L, "completely different content about spark and data"),
    (5L, "another unrelated document with its own words here"))
  private lazy val docs = docRows.toDF("doc_id", "text")

  test("exact dedup keeps the min-id representative") {
    val kept = Dedup.exact(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 3L, 4L, 5L)))
  }

  test("ngram jaccard finds the near-dup pair and scores exact dups 1.0") {
    val pairs = Dedup.ngramJaccard(docs, "text", "doc_id", n = 3, threshold = 0.3)
      .select("id_a", "id_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    val exactPair = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(exactPair.exists(_._3 == 1.0))
    assert(pairs.exists(p => Set(p._1, p._2) == Set(1L, 3L)))
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(4L, 5L)))
  }

  test("minhash LSH surfaces exact duplicates as candidates") {
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id", n = 3, bands = 4, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("a bucket above the hot-bucket cap is dropped, one at the cap is kept") {
    val same = (1L to 3L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all3 = Set((1L, 2L), (1L, 3L), (2L, 3L))
    // every band key of the three identical docs is one bucket of size 3
    assert(pairs(Dedup.minhashLsh(same, "text", "doc_id", maxBucketSize = 2)).isEmpty)
    assert(pairs(Dedup.minhashLsh(same, "text", "doc_id", maxBucketSize = 3)) === all3)
    // every shingle has document frequency 3
    assert(pairs(Dedup.ngramJaccard(same, "text", "doc_id", maxShingleDf = 2)).isEmpty)
    assert(pairs(Dedup.ngramJaccard(same, "text", "doc_id", maxShingleDf = 3)) === all3)
  }

  test("a fresh session reuses the generated classes of an earlier one") {
    // each near-dup pass and each streaming query start runs in a fresh
    // session; its whole-stage classes must hit the codegen cache
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def pairsInFreshSession(): Long = Dedup.ngramJaccard(
      spark.newSession().createDataFrame(docRows).toDF("doc_id", "text"),
      "text", "doc_id", n = 3, threshold = 0.3).count()
    val first = pairsInFreshSession()
    val before = compiles.getCount
    assert(pairsInFreshSession() === first)
    assert(compiles.getCount - before === 0L, "janino compiles in the second session")
  }

  test("every near-dup operator returns no rows and its documented columns on an empty input") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val cases = Seq(
      "ngramJaccard" -> (Dedup.ngramJaccard(noDocs, "text", "doc_id"),
        Seq("id_a", "id_b", "inter", "card_a", "card_b", "jaccard")),
      "minhashLsh" -> (Dedup.minhashLsh(noDocs, "text", "doc_id"), Seq("id_a", "id_b")),
      "simhashPairs64" -> (Dedup.simhashPairs64(noDocs, "text", "doc_id"),
        Seq("id_a", "id_b", "hamming")),
      "lineDedup" -> (Dedup.lineDedup(noDocs, "text", "doc_id"),
        Seq("doc_id", "n_lines", "n_kept", "kept_fp")),
      "annPairs" -> (Similarity.annPairs(noVecs, "embedding", "vec_id"),
        Seq("id_a", "id_b", "bucket", "cos")),
      "cosineTopK" -> (Similarity.cosineTopK(noVecs, "embedding", "vec_id", Seq(0L), k = 3),
        Seq("query_id", "neighbor_id", "cos", "rank")),
      "ivfTopK" -> (Similarity.ivfTopK(noVecs, "embedding", "vec_id", Seq(0L), k = 3),
        Seq("query_id", "neighbor_id", "cos", "rank")),
      "embeddingNearDup" -> (Dedup.embeddingNearDup(noVecs, "embedding", "vec_id"),
        Seq("vec_id", "embedding")))
    for ((name, (df, cols)) <- cases) {
      assert(df.columns.toSeq === cols, name)
      assert(df.collect().isEmpty, name)
    }
  }

  test("cosine top-k is exact and deterministic on embeddings") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val topk = Similarity.cosineTopK(e, "embedding", "vec_id", Seq(0L), k = 3).collect()
    assert(topk.length === 3)
    val cosines = topk.map(_.getDouble(2))
    assert(cosines.sameElements(cosines.sorted.reverse))
    assert(cosines.forall(c => c >= -1.0000001 && c <= 1.0000001))
  }

  test("ANN LSH pairs are a subset of brute-force pairs at the same threshold") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200).cache()
    val ann = Similarity.annPairs(e, "embedding", "vec_id", nPlanes = 4, threshold = 0.25)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val l = e.select(col("vec_id").as("id_a"), col("embedding").as("_va"))
    val r = e.select(col("vec_id").as("id_b"), col("embedding").as("_vb"))
    val brute = l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("_va"), col("_vb")))
      .filter(col("cos") >= 0.25)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(ann.subsetOf(brute))
    e.unpersist()
  }

  test("IVF top-k: high recall vs brute force, perfect when probing all buckets") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(300).cache()
    val qs = Seq(0L, 1L, 2L)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = asSet(Similarity.cosineTopK(e, "embedding", "vec_id", qs, k = 5))
    // probing every bucket must reproduce brute force exactly
    val full = asSet(Similarity.ivfTopK(e, "embedding", "vec_id", qs, k = 5,
      nCentroids = 4, nProbe = 4))
    assert(full === brute)
    // probing half the buckets keeps recall >= 0.6 on this corpus
    val ivf = asSet(Similarity.ivfTopK(e, "embedding", "vec_id", qs, k = 5,
      nCentroids = 4, nProbe = 2))
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall $recall")
    e.unpersist()
  }

  test("embedding near-dup dedup keeps the min-id member of each pair") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200)
    val pairs = Similarity.annPairs(e, "embedding", "vec_id", nPlanes = 4, threshold = 0.25)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val kept = Dedup.embeddingNearDup(e, "embedding", "vec_id", nPlanes = 4, threshold = 0.25)
      .select("vec_id").as[Long].collect().toSet
    val dropped = pairs.map(_._2).toSet
    assert(kept.intersect(dropped).isEmpty)
    assert(kept.size + dropped.size === e.count())
  }

  test("multimodal: format sniffing, frame sampling shape, stub embedding determinism") {
    val bins = Seq(
      (1L, Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A) ++ Array.fill[Byte](80)(7)),
      (2L, Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte) ++ Array.fill[Byte](80)(3)),
      (3L, "RIFF1234WAVE".getBytes("UTF-8") ++ Array.fill[Byte](80)(1)),
      (4L, Array[Byte](0, 0, 0, 0x18) ++ "ftypisom".getBytes("UTF-8") ++ Array.fill[Byte](80)(2))
    ).toDF("id", "bin")
    val fmts = bins.select(col("id"), Multimodal.sniffFormat(col("bin")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fmts === Map(1L -> "png", 2L -> "jpeg", 3L -> "riff", 4L -> "mp4"))

    val frames = bins.select(col("id"),
        explode(Multimodal.frameSample(col("bin"), 4, 32)).as("f"))
      .select(col("id"), col("f.frame_no"), col("f.offset"), length(col("f.chunk")).as("len"))
      .collect()
    assert(frames.length === 16) // 4 docs x 4 frames
    assert(frames.forall(_.getInt(3) === 32)) // full-width chunks, in-range offsets

    val emb1 = Multimodal.mmFeatures(bins, "bin", "id").orderBy("id").collect()
    val emb2 = Multimodal.mmFeatures(bins.repartition(7), "bin", "id").orderBy("id").collect()
    assert(emb1.length === 4)
    assert(emb1.map(_.getInt(1)).forall(_ === 4))
    val v1 = emb1.map(_.getSeq[Double](2))
    val v2 = emb2.map(_.getSeq[Double](2))
    assert(v1.zip(v2).forall { case (a, b) => a == b }) // parallelism-invariant
    assert(v1.forall(v => v.length == 8 && v.forall(x => x >= 0.0 && x < 1.0)))

    // mean denominator = the COLLECTED frame count, not a nominal constant:
    // a doc contributing 2 frames next to one contributing 4 must get the
    // exact 2-frame mean, not half of it (Multimodal.frameMean)
    val perFrame = Seq(
      (1L, Seq(1.0, 3.0)), (1L, Seq(3.0, 5.0)),
      (2L, Seq(2.0, 2.0)), (2L, Seq(4.0, 6.0)), (2L, Seq(6.0, 10.0)), (2L, Seq(8.0, 2.0))
    ).toDF("id", "feat")
    val means = Multimodal.frameMean(perFrame, "id", "feat", 2)
      .orderBy("id").collect()
    assert(means(0).getInt(1) === 2 && means(0).getSeq[Double](2) === Seq(2.0, 4.0))
    assert(means(1).getInt(1) === 4 && means(1).getSeq[Double](2) === Seq(5.0, 5.0))
  }

  test("PNG codec: real javax.imageio round-trip matches the pixel function exactly") {
    import graft.operators.PngCodec
    // the encoded bytes are a real PNG (magic + IHDR), and decode recovers
    // the exact synthetic pixels — lossless round-trip is the contract the
    // q_mm_embed oracle rests on
    for (d <- Seq(0L, 1L, 17L, 499L)) {
      val bytes = PngCodec.synthPng(d, 16, 16)
      assert(bytes.take(8).map(_ & 0xFF).toSeq ===
        Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
      val dec = PngCodec.decodeBands(bytes, 8)
      assert(dec.width === 16 && dec.height === 16)
      val expected = new Array[Long](8)
      for (y <- 0 until 16; x <- 0 until 16) {
        val (r, g, b) = PngCodec.synthPixel(d, x, y)
        expected(y * 8 / 16) += r + g + b
      }
      assert(dec.bandSums.toSeq === expected.toSeq)
    }
    // and the Spark operator end-to-end: decoded-band embedding in [0,1)
    val df = Seq(3L, 4L).toDF("id")
      .withColumn("png", udf((d: Long) => PngCodec.synthPng(d, 16, 16)).apply(col("id")))
    val emb = Multimodal.imageEmbedding(df, "png", "id", nBands = 8).orderBy("id").collect()
    assert(emb.length === 2)
    assert(emb.forall(r => (0 until 8).forall { i =>
      val v = r.getDouble(3 + i); v >= 0.0 && v < 1.0
    }))
  }

  test("JPEG codec: real javax.imageio round-trip stays inside the lossy tolerance") {
    import graft.operators.PngCodec
    for (d <- Seq(0L, 1L, 17L, 499L)) {
      val bytes = PngCodec.synthJpeg(d, 16, 16)
      // real JPEG magic (SOI + APP0/JFIF from the JDK writer)
      assert((bytes(0) & 0xFF) === 0xFF && (bytes(1) & 0xFF) === 0xD8 &&
        (bytes(2) & 0xFF) === 0xFF)
      val rt = PngCodec.jpegRoundTrip(bytes, d, nBands = 8)
      assert(rt.width === 16 && rt.height === 16)
      // decoded pixels came from a REAL inverse DCT: close to the source
      // (measured worst case 24.8 / 3.8) but not exactly equal to it
      assert(rt.pixelMae <= 48.0 && rt.pixelMae > 0.0)
      assert(rt.maxBandErr <= 16.0)
      // deterministic: the same bytes decode to the same metrics
      val rt2 = PngCodec.jpegRoundTrip(bytes, d, nBands = 8)
      assert(rt2 === rt.copy())
    }
    // the tolerance DISCRIMINATES: scoring the decoded pixels against a
    // wrong source must blow past the tolerances — i.e. the gate fails for
    // anything but a faithful decode of THIS payload. (A wrong source 100
    // ids away; ADJACENT ids are near-constant channel shifts of 7/11/19
    // by construction, which is not the failure mode the gate targets.)
    val wrong = PngCodec.jpegRoundTrip(PngCodec.synthJpeg(7L, 16, 16), 107L, nBands = 8)
    assert(wrong.pixelMae > 48.0 && wrong.maxBandErr > 16.0)
  }

  test("WAV codec: real javax.sound.sampled decode recovers the exact PCM16 samples") {
    import graft.operators.WavCodec
    for (d <- Seq(0L, 3L, 499L)) {
      val bytes = WavCodec.synthWav(d, nSamples = 256)
      assert(new String(bytes.take(4), "US-ASCII") === "RIFF")
      assert(new String(bytes.slice(8, 12), "US-ASCII") === "WAVE")
      val aw = WavCodec.decodeWindows(bytes, nWindows = 8)
      assert(aw.sampleRate === 8000 && aw.channels === 1 && aw.nSamples === 256)
      // PCM is lossless: window sums equal the closed-form integer sums
      val expected = new Array[Long](8)
      for (i <- 0 until 256) expected(i * 8 / 256) += WavCodec.synthSample(d, i)
      assert(aw.windowSums.toSeq === expected.toSeq)
    }
    // a truncated payload must fail loudly, not yield silent partial sums
    val trunc = WavCodec.synthWav(1L, nSamples = 256).dropRight(7)
    intercept[Exception](WavCodec.decodeWindows(trunc, nWindows = 8))
  }

  test("line dedup keeps the first corpus-wide occurrence of every line") {
    val d = Seq(
      (1L, "a b c d e f"),       // lines: "a b c", "d e f" — both first
      (2L, "a b c x y z"),       // "a b c" dup of doc 1 → only "x y z" kept
      (3L, "d e f d e f")        // both lines dup (doc 1 + within-doc)
    ).toDF("doc_id", "text")
    val res = Dedup.lineDedup(d, "text", "doc_id", wordsPerLine = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(res(1L)._1 == 2 && res(1L)._2 == 2)
    assert(res(2L)._1 == 2 && res(2L)._2 == 1)
    assert(res(3L)._1 == 2 && res(3L)._2 == 0)
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.empty[Byte]).map("%02x".format(_)).mkString
    assert(res(3L)._3 == emptyMd5)
    // within-doc duplicate line: second occurrence dropped, first kept
    val res2 = Dedup.lineDedup(Seq((9L, "p q r p q r")).toDF("doc_id", "text"),
      "text", "doc_id", wordsPerLine = 3).collect().head
    assert(res2.getLong(1) == 2 && res2.getLong(2) == 1)
  }

  test("decontaminate flags corpus docs sharing an n-gram with the benchmark") {
    val corpus = Seq(
      (10L, "the quick brown cat sits here quietly today"),  // shares "the quick brown"
      (11L, "entirely disjoint content with no overlap at all")
    ).toDF("doc_id", "text")
    val bench = Seq((90L, "the quick brown fox")).toDF("doc_id", "text")
    val res = Dedup.decontaminate(corpus, bench, "text", "doc_id", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(res.length == 1)
    val (id, contam, card, frac) = res.head
    assert(id == 10L && contam == 1L && card == 6L && frac == 1.0 / 6.0)
  }

  test("stratified hash sampling: exact 0/1 rates, deterministic, nested") {
    val d = (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    def ids(rates: Map[String, Double], default: Double) =
      graft.operators.Sampling.stratifiedHash(d, "doc_id", "lang", rates, default, "s")
        .select("doc_id").as[Long].collect().toSet
    assert(ids(Map("en" -> 0.0), 0.0).isEmpty)
    val all = ids(Map("en" -> 1.0), 1.0)
    assert(all.size == 400)
    val half = ids(Map("en" -> 0.5, "de" -> 0.5), 0.5)
    assert(half == ids(Map("en" -> 0.5, "de" -> 0.5), 0.5)) // deterministic
    assert(math.abs(half.size - 200) < 60)                  // ~rate
    // hash-threshold sampling nests: a lower rate is a subset of a higher
    assert(ids(Map("en" -> 0.2, "de" -> 0.2), 0.2).subsetOf(half))
  }

  test("quality buckets: exact terciles per stratum, null score = null bucket") {
    val d = ((1 to 9).map(i => ("en", i.toLong, i.toDouble)) :+ ("en", 10L, Double.NaN))
      .toDF("lang", "doc_id", "score")
      .withColumn("score", when(isnan(col("score")), lit(null)).otherwise(col("score")))
    val res = graft.operators.Sampling.qualityBuckets(d, "lang", col("score"))
      .select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    (1 to 3).foreach(i => assert(res(i.toLong).contains("head")))
    (4 to 6).foreach(i => assert(res(i.toLong).contains("middle")))
    (7 to 9).foreach(i => assert(res(i.toLong).contains("tail")))
    assert(res(10L).isEmpty)
  }

  test("rolling hash: stable, whitespace-token sensitive, bounded") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "c b a")).toDF("id", "text")
    val h = df.select(col("id"), graft.functions.TextFeatures.rollingHash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) === h(2L))
    assert(h(1L) !== h(3L))
    assert(h.values.forall(v => v >= 0 && v < 1000000007L))
  }

  test("scrub is idempotent and byte-exact on known PII") {
    val s = "call 555-123-4567 or mail a.b@x.org ssn 123-45-6789 end"
    val once = Scrubber.scrubString(s)
    assert(once === "call <PHONE> or mail <EMAIL> ssn <SSN> end")
    assert(Scrubber.scrubString(once) === once)
  }

  test("html extraction drops tags/script/style and decodes entities") {
    val html = "<html><style>x{}</style><body><p>a &amp; b</p><script>no()</script></body></html>"
    assert(Scrubber.extractTextString(html) === "a & b")
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model._
import graft.stages._
import graft.cascade.Cascade
import graft.operators.Dedup

/** Round-2 feature semantics: ingest dedup in the cascade path, the
  * multi-test-configuration loop, corpus scope, per-provider SourceSpec,
  * neighbor cap, log1p variance stabilization, sct_fg ensemble majority,
  * model pre-clean, and behavior on a heavily skewed corpus.
  */
class FeatureSpec extends SparkSpec {
  import spark.implicits._

  /** Rows of `k`-word docs on one domain (url unique per row). */
  private def corpusOf(domain: String, wordCounts: Seq[Int],
                       textOf: Int => String = k => Seq.fill(k)("w").mkString(" ")): DataFrame =
    wordCounts.zipWithIndex
      .map { case (k, i) => (s"https://$domain/p/$i", domain, "en", textOf(k)) }
      .toDF("url", "domain", "lang", "text")

  /** The cascade folded over one string-keyed frame, without the payload
    * split: ingest, then every stage (each selfRef stage's input locally
    * checkpointed, as CascadeSpec's sticky test folds), then the final
    * decision — the reference the payload-split parity tests compare
    * Cascade.run against.
    */
  private def unsplitRun(pages: DataFrame, cfg: CascadeConfig,
                         models: Option[Models] = None,
                         pseudoTexts: Seq[String] = Nil): DataFrame = {
    val ingested = Ingest.stampLists(
      if (cfg.dedupIngest)
        Ingest.features(Ingest.dropDuplicatePages(Ingest.normalizeCore(pages, cfg)))
      else Ingest.normalize(pages, cfg), cfg)
    Cascade.finalDecision(Cascade.stages(cfg, models, pseudoTexts).foldLeft(ingested)(
      (d, s) => s.f(if (s.selfRef) d.localCheckpoint(true) else d)))
  }

  private val buddyOnlyCfg = CascadeConfig(
    buddyParams = Seq(BuddyParams(5, 4.0)),
    enabled = Set(FlagCodes.Buddy),
    blacklistDomains = Set.empty, keepDomains = Set.empty)

  test("ingest dedup: a planted duplicate never inflates buddy statistics") {
    // 10 inliers (~100 words) + one 300-word outlier + an exact duplicate of
    // the outlier. With the duplicate in the stats each twin shelters the
    // other (LOO z ≈ 3.0 < 4); after the reference's ingest-time drop
    // (read_data_to_check.r:122-143) the survivor is exposed (z ≈ 65).
    val base = (0 until 10).map(i => 98 + i)
    val dup = corpusOf("h.example", base ++ Seq(300, 300))
    val noDedup = Cascade.run(dup, buddyOnlyCfg)
    assert(noDedup.count() === 12)
    assert(noDedup.filter(col(Cols.Dqc) === FlagCodes.Buddy).count() === 0,
      "twin outliers shelter each other when duplicates survive ingest")

    val withDedup = Cascade.run(dup, buddyOnlyCfg.copy(dedupIngest = true))
    assert(withDedup.count() === 11, "exactly one twin survives ingest dedup")
    val flagged = withDedup.filter(col(Cols.Dqc) === FlagCodes.Buddy)
      .select(Cols.NWords).as[Int].collect()
    assert(flagged.toSeq === Seq(300), "the surviving outlier is now exposed")
  }

  test("multi-test-configuration loop: later configs see earlier flags (j loop)") {
    // 10 inliers + moderate (160) + extreme (300). Config (z=6) flags only
    // the extreme; a second config (z=2.5) then sees stats WITHOUT the
    // extreme and exposes the moderate — strictly more than either alone.
    val c = corpusOf("h.example", (0 until 10).map(98 + _) ++ Seq(160, 300))
    val single = Cascade.run(c, buddyOnlyCfg.copy(buddyParams = Seq(BuddyParams(5, 6.0))))
    assert(single.filter(col(Cols.Dqc) === FlagCodes.Buddy)
      .select(Cols.NWords).as[Int].collect().toSeq === Seq(300))
    val multi = Cascade.run(c, buddyOnlyCfg.copy(
      buddyParams = Seq(BuddyParams(5, 6.0), BuddyParams(5, 2.5))))
    assert(multi.filter(col(Cols.Dqc) === FlagCodes.Buddy)
      .select(Cols.NWords).as[Int].collect().sorted.toSeq === Seq(160, 300))
  }

  test("corpus scope: warc_ts window prunes rows before any check") {
    val rows = (0 until 20).map { i =>
      (s"https://h.example/$i", new java.sql.Timestamp(1700000000000L + i * 86400000L),
        "en", Seq.fill(50)("w").mkString(" "))
    }.toDF("url", "warc_ts", "lang", "text")
    val cfg = buddyOnlyCfg.copy(
      tsMin = Some(new java.sql.Timestamp(1700000000000L + 5 * 86400000L)),
      tsMax = Some(new java.sql.Timestamp(1700000000000L + 15 * 86400000L)))
    val out = Cascade.run(rows, cfg)
    assert(out.count() === 10)
    val ts = out.select(min(col(Cols.WarcTs)), max(col(Cols.WarcTs))).collect()(0)
    assert(ts.getTimestamp(0).getTime === 1700000000000L + 5 * 86400000L)
    assert(ts.getTimestamp(1).getTime === 1700000000000L + 14 * 86400000L)
  }

  test("ingest reads input columns named in another case: Lang and WARC_TS") {
    val day = (i: Int) => new java.sql.Timestamp(1700000000000L + i * 86400000L)
    val text = Seq.fill(50)("w").mkString(" ")
    val rows = Seq(
      ("https://h.example/a", day(7), "de", text),
      ("https://h.example/a", day(6), "de", text),  // earlier recrawl: the keeper
      ("https://h.example/b", day(8), "fr", "other words here"),
      ("https://h.example/c", day(20), "en", "out of the crawl window"))
      .toDF("url", "WARC_TS", "Lang", "text")
    val cfg = buddyOnlyCfg.copy(tsMin = Some(day(5)), tsMax = Some(day(15)))
    val out = Ingest.dropDuplicatePages(Ingest.normalize(rows, cfg))
      .select(Cols.Url, Cols.WarcTs, Cols.Lang).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2))).sortBy(_._1).toSeq
    assert(out === Seq(("https://h.example/a", day(6), "de"), ("https://h.example/b", day(8), "fr")))
    val labeled = Cascade.run(rows, cfg.copy(dedupIngest = true))
      .select(Cols.Url, Cols.Lang).as[(String, String)].collect().sorted.toSeq
    assert(labeled === Seq("https://h.example/a" -> "de", "https://h.example/b" -> "fr"))
  }

  test("per-provider SourceSpec: remap + affine rescale normalize two shapes") {
    val a = Seq(("https://a.example/1", "body text here of source a", "en", 10.0))
      .toDF("page_url", "body", "language", "score")
    val b = Seq(("https://b.example/1", "canonical text of source b", "en", 3.0))
      .toDF("url", "text", "lang", "score")
    val unioned = Ingest.unionSources(Seq(
      a -> SourceSpec(
        remap = Map("page_url" -> "url", "body" -> "text", "language" -> "lang"),
        affine = Map("score" -> (1.0, 2.0))),   // 1 + 2·x
      b -> SourceSpec()))
    assert(unioned.columns.toSet === Set("url", "text", "lang", "score"))
    val rows = unioned.orderBy("url").collect()
    assert(rows(0).getString(0) === "https://a.example/1")
    assert(rows(0).getDouble(3) === 21.0)
    assert(rows(1).getDouble(3) === 3.0)
    // and the canonical frame flows through normalize unchanged
    val n = Ingest.normalize(unioned, buddyOnlyCfg)
    assert(n.count() === 2)
    assert(n.columns.contains(Cols.Domain))
  }

  test("fused groupStats == legacy two-pass stats in both cap regimes") {
    // differential gate for the round-6 fusion: the capped groupStats now
    // computes stats and pre-cap group sizes in ONE aggregation and only
    // runs the sampling pass when some group actually exceeds the cap.
    // The reference below is the old shape, inline: a count pass, the
    // hash-proportional thinning, the salted stats pass, and the _gn
    // reattach join. Frames are engineered to cover the corners: a group
    // over the cap (sampling binds), a group under it, eligible rows with
    // NULL x (counted in _gn, absent from _n), and a fully-flagged group
    // (absent from the stats entirely).
    def legacy(df: DataFrame, x: org.apache.spark.sql.Column, cap: Int): DataFrame = {
      val keyCols = Seq(col(Cols.Domain))
      val capCounts = df.filter(Stage.referenceEligible)
        .groupBy(keyCols: _*).agg(count(lit(1)).as("_gn"))
      val sampled = df.join(capCounts, Seq(Cols.Domain), "left")
        .filter(col("_gn").isNull || Neighborhood.inSampleCond(cap, col("_gn")))
        .drop("_gn")
      val xl = when(Stage.referenceEligible, x.cast("long"))
      val partial = sampled
        .groupBy(keyCols :+ pmod(col(Cols.UrlHash), lit(8)).as("_salt"): _*)
        .agg(sum(xl).as("_ps"), sum(xl * xl).as("_pq"), count(xl).as("_pn"))
      partial.groupBy(keyCols: _*)
        .agg(sum("_ps").as("_s"), sum("_pq").as("_q"), sum("_pn").as("_n"))
        .filter(col("_n") > 0)
        .join(capCounts, Seq(Cols.Domain), "left")
    }
    def frame(bigN: Int): DataFrame = {
      val rows =
        (0 until bigN).map(i =>
          (s"https://big.example/$i", "big.example",
            if (i % 7 == 0) None else Some(i % 23), Option.empty[Int])) ++
        (0 until 10).map(i =>
          (s"https://small.example/$i", "small.example", Some(100 + i), Option.empty[Int])) ++
        (0 until 4).map(i =>
          (s"https://dead.example/$i", "dead.example", Some(5), Some(FlagCodes.Blacklist)))
      rows.toDF("url", Cols.Domain, "x", Cols.Dqc)
        .withColumn(Cols.UrlHash, xxhash64(col("url")))
        .withColumn(Cols.Doit, lit(1))
        .localCheckpoint()
    }
    for (bigN <- Seq(30, 120)) { // cap 40: slack everywhere / binds on big
      val df = frame(bigN)
      val cfg = buddyOnlyCfg.copy(maxRefsPerGroup = Some(40))
      val cols = Seq(Cols.Domain, "_s", "_q", "_n", "_gn").map(col)
      val fused = Neighborhood.groupStats(df, col("x"), cfg)
        .select(cols: _*).orderBy(Cols.Domain).collect().toSeq
      val ref = legacy(df, col("x"), 40)
        .select(cols: _*).orderBy(Cols.Domain).collect().toSeq
      assert(fused === ref, s"bigN=$bigN: fused stats must equal the two-pass form")
      assert(fused.map(_.getString(0)) === Seq("big.example", "small.example"),
        "fully-flagged groups never appear; null-x rows keep their group via _gn")
    }
  }

  test("neighbor cap: giant group judged against a bounded deterministic sample") {
    val big = corpusOf("big.example", (0 until 500).map(i => 100 + (i % 5)) :+ 500)
    val cfg = buddyOnlyCfg.copy(maxRefsPerGroup = Some(50))
    val out1 = Cascade.run(big, cfg)
    val out2 = Cascade.run(big.repartition(13), cfg)
    val f1 = out1.filter(col(Cols.Dqc) === FlagCodes.Buddy)
      .select(Cols.Url).as[String].collect().sorted.toSeq
    val f2 = out2.filter(col(Cols.Dqc) === FlagCodes.Buddy)
      .select(Cols.Url).as[String].collect().sorted.toSeq
    assert(f1 === f2, "hash-proportional sampling is parallelism-invariant")
    assert(f1.length === 1 && f1.head.endsWith("/500"),
      s"only the planted outlier is flagged, got $f1")
  }

  test("an unset neighbor cap labels exactly like a cap no group reaches") {
    // every neighbour check (buddy, sct, sct_dual, sct_fg_dual with its
    // pseudo-docs, isolation) under the fixture config, once as shipped,
    // once with a priority class and once with two buddy configurations
    val corpus = io.PagesGen.generate(spark, 3000).localCheckpoint()
    val base = io.PagesGen.matchingConfig
    def labels(cfg: CascadeConfig): Seq[(String, Int, Boolean)] =
      Cascade.run(corpus, cfg, None, io.PagesGen.exemplarTexts())
        .select(Cols.Url, Cols.Dqc, Cols.KeepCol).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2))).toSeq.sortBy(_._1)
    val neighbourCodes = Set(FlagCodes.Buddy, FlagCodes.Sct, FlagCodes.SctDual,
      FlagCodes.SctFgDual, FlagCodes.Isolation)
    for ((name, cfg) <- Seq(
           "matchingConfig" -> base,
           "priority class" -> base.copy(priorities = Map("bighost.example" -> 1)),
           "two buddy configurations" -> base.copy(
             buddyParams = Seq(BuddyParams(5, 4.0), BuddyParams(5, 3.2))))) {
      val uncapped = labels(cfg.copy(maxRefsPerGroup = None))
      val neverBinds = labels(cfg.copy(maxRefsPerGroup = Some(1 << 30)))
      assert(uncapped === neverBinds, name)
      val fired = uncapped.map(_._2).toSet.intersect(neighbourCodes)
      assert(fired.contains(FlagCodes.Buddy) && fired.contains(FlagCodes.Isolation),
        s"$name: the neighbour checks must fire, got $fired")
    }
  }

  test("isolation never counts a row without a neighbourhood as -1 neighbours") {
    // a null lang puts the row in no isolation group: zero neighbours, not
    // minus one, in both cap regimes — so isolationMinN = 0 flags nothing
    val rows = (0 until 4).map(i =>
      (s"https://h.example/p/$i", "h.example", if (i == 0) null else "en",
        Seq.fill(20)("w").mkString(" ")))
    val cfg = CascadeConfig(enabled = Set(FlagCodes.Isolation), isolationMinN = 0,
      blacklistDomains = Set.empty, keepDomains = Set.empty)
    val df = Ingest.stampLists(
      Ingest.normalize(rows.toDF("url", "domain", "lang", "text"), cfg), cfg)
    for (cap <- Seq(None, Some(1000))) {
      val flagged = Neighborhood.isolationOnce(df, cfg.copy(maxRefsPerGroup = cap))
        .filter(col(Cols.Dqc) === FlagCodes.Isolation).count()
      assert(flagged === 0, s"maxRefsPerGroup = $cap")
    }
  }

  test("log1p variance stabilization: heavy tail stops z false-positives") {
    // geometric word counts (heavy tail): on the raw scale the max looks
    // like an outlier (z ≈ 7); after log1p the same data is a uniform ramp
    // (z ≈ 1.6) and nothing is flagged.
    val geo = (0 until 15).map(k => 10 * (1 << k))
    val c = corpusOf("h.example", geo)
    val raw = Cascade.run(c, buddyOnlyCfg.copy(buddyParams = Seq(BuddyParams(5, 3.0))))
    assert(raw.filter(col(Cols.Dqc) === FlagCodes.Buddy).count() >= 1)
    val logd = Cascade.run(c, buddyOnlyCfg.copy(buddyParams = Seq(BuddyParams(5, 3.0)),
      buddyLog1p = true))
    assert(logd.filter(col(Cols.Dqc) === FlagCodes.Buddy).count() === 0)
  }

  test("sct_fg votes per ensemble member with majority >= (n+1)/2") {
    val df = Seq(
      (1L, 1.0, 1.0, 9.0),   // 1 of 3 members over the bound → keep
      (2L, 9.0, 9.0, 1.0),   // 2 of 3 → flag
      (3L, 9.0, 9.0, 9.0))   // 3 of 3 → flag
      .toDF("id", s"${Cols.LogPpl}0", s"${Cols.LogPpl}1", s"${Cols.LogPpl}2")
      .withColumn(Cols.Dqc, lit(null).cast("int"))
      .withColumn(Cols.Doit, lit(1))
    val out = ModelChecks.sctFg(df, CascadeConfig(maxLogPpl = 8.0), nMembers = 3)
      .select(col("id"), col(Cols.Dqc)).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(out === Map(1L -> -1, 2L -> FlagCodes.SctFg, 3L -> FlagCodes.SctFg))
  }

  test("model pre-clean: junk training rows never reach the LM (radar-DQC analog)") {
    val clean = (0 until 40).map(i =>
      (s"the quick brown fox number $i jumps over the lazy dog again", "en"))
    val junk = Seq(("zzqq zzqq", "en"), ("$$$ ### !!! %%% ^^^ &&& *** ((( ))) ___", "en"))
    val df = (clean ++ junk).toDF("text", "lang")
    val m = Models.train(spark, df)        // preClean = true by default
    val lm = m.lms.head
    assert(!lm.counts.contains(lm.key(Seq("zzqq"))),
      "junk token must be filtered out of training")
    assert(lm.counts.contains(lm.key(Seq("fox"))))
    val mDirty = Models.train(spark, df, preClean = false)
    val lmD = mDirty.lms.head
    assert(lmD.counts.contains(lmD.key(Seq("zzqq"))),
      "without pre-clean the junk token is learned")
  }

  test("skewed corpus (one domain >= 50% of rows): neighborhood family completes " +
       "deterministically with map-side-combined aggregation") {
    val bigRows = (0 until 1200).map(i =>
      (s"https://bighost.example/$i", "bighost.example", "en",
        Seq.fill(100 + (i % 7))("w").mkString(" ")))
    val rest = (0 until 800).map { i =>
      val d = s"host${i % 5}.example"
      (s"https://$d/$i", d, "en", Seq.fill(95 + (i % 11))("w").mkString(" "))
    }
    val df = (bigRows ++ rest).toDF("url", "domain", "lang", "text")
    val cfg = buddyOnlyCfg.copy(
      enabled = Set(FlagCodes.Buddy, FlagCodes.Sct, FlagCodes.SctDual, FlagCodes.Isolation),
      buddyParams = Seq(BuddyParams(5, 3.0)), sctParams = Seq(SctParams(5, 3.0)),
      dualParams = Seq(DualParams(5, 104, 0.2, 0.8)),
      isolationMinN = 3)
    val a = Cascade.run(df, cfg).groupBy(Cols.Dqc).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val b = Cascade.run(df.repartition(17), cfg).groupBy(Cols.Dqc).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(a === b, "flags are identical at any parallelism")
    assert(a.values.sum === 2000)
  }

  test("simhash64: identical text = identical words; banded pairs find the dup") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely unrelated content about databases and storage")
    ).toDF("doc_id", "text")
    val h = Dedup.simhash64(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getInt)).toMap
    assert(h(1L) === h(2L))
    assert(h(1L) !== h(3L))
    val pairs = Dedup.simhashPairs64(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0)))
  }

  test("sliceKey is bit-identical to key (training/lookup hash parity)") {
    val lm = graft.ml.NgramLMModel(3, 17, graft.ml.LongLongMap.empty, 0L, 0L)
    val lm2 = graft.ml.NgramLMModel(2, 101, graft.ml.LongLongMap.empty, 0L, 0L)
    val arr = Array("alpha", "beta", "gamma", "delta")
    val hashes = arr.map(_.##)
    for (m <- Seq(lm, lm2); from <- 0 to 3; until <- from + 1 to 4)
      assert(m.sliceKey(hashes, from, until) === m.key(arr.slice(from, until).toSeq))
  }

  test("langid packed-trigram detect matches the string-based reference impl") {
    val m = graft.ml.LangId.default
    val samples = graft.ml.LangId.seeds.values.toSeq ++ Seq(
      "The quick brown fox jumps over the lazy dog",
      "der schnelle braune Fuchs und die faulen Hunde",
      "la gente piensa que el agua es buena",
      "1234 5678 !!!", "", "   ", "a", "ab",
      "mixed English text avec quelques mots francais",
      "zzqq zzqq zzqq gibberish tokens qqzz",
      "punct, only; at. the? end!")
    samples.foreach { s =>
      val fast = m.detect(s)
      val ref = m.detectReference(s)
      assert(fast._1 === ref._1, s"lang mismatch on: '$s'")
      assert(math.abs(fast._2 - ref._2) <= 1e-9 * math.max(1.0, math.abs(ref._2)),
        s"margin drift on: '$s' fast=${fast._2} ref=${ref._2}")
    }
    assert(m.detect(null) === (("und", 0.0)))
  }

  test("langid exact-integer scoring agrees with detect on the fixture corpus") {
    // detectExact is the oracle-gated scoring form of the same model
    // (integer dots + a pinned IEEE chain vs detect's pre-normalized double
    // weights): same trigram enumeration, same cosine ordering, so the
    // winning language must agree everywhere detect is confident, and the
    // null/empty/no-letter contract must be identical
    val m = graft.ml.LangId.default
    assert(graft.ml.LangId.detectExact(null) === (("und", 0.0)))
    assert(graft.ml.LangId.detectExact("") === (("und", 0.0)))
    assert(graft.ml.LangId.detectExact("123 !!! 456") === (("und", 0.0)))
    val texts = io.PagesGen.generate(spark, 2000)
      .select("text").collect().map(_.getString(0)).filter(_ != null)
    var checked = 0
    texts.foreach { t =>
      val (dl, dc) = m.detect(t)
      val (el, ec) = graft.ml.LangId.detectExact(t)
      if (dl == "und") assert(el === "und", s"exact found a lang where detect saw none: '$t'")
      else {
        assert(el === dl, s"argmax disagrees on: '${t.take(60)}' detect=$dl exact=$el")
        assert(ec >= 0.0)
        checked += 1
      }
    }
    assert(checked > 1000, s"fixture corpus should exercise real detections, got $checked")
  }

  test("tokenHashes is bit-identical to tokenize(_).map(_.##)") {
    import graft.ml.NgramLM
    val samples = Seq(
      "The quick BROWN fox-jumps  over 42 lazy dogs!",
      "", "   ", "a", "A1b2C3", "!!!???", "trailing token",
      "punct.at.end.", ".leading", "tabs\tand\nnewlines\r\nmix",
      "digits 0123456789 and MiXeD CaSe ToKeNs",
      "café naïve résumé",       // accented latin
      "中文 mixed with ascii words",          // CJK separators
      "x" * 300 + " " + "y" * 5)
    samples.foreach { s =>
      assert(NgramLM.tokenHashes(s).toSeq === NgramLM.tokenize(s).map(_.##).toSeq,
        s"mismatch on: $s")
    }
    assert(NgramLM.tokenHashes(null).isEmpty)
  }

  test("LongLongMap: getOrElse/contains parity with Map, incl. 0L key and collisions") {
    val rnd = new scala.util.Random(42)
    // force collisions: many keys sharing low bits, plus a genuine 0L key
    val pairs = (1 to 5000).map(_ => rnd.nextLong() -> rnd.nextLong()) ++
      (1 to 64).map(i => (i.toLong << 48) -> i.toLong) :+ (0L -> 99L)
    val ref = pairs.toMap
    val m = graft.ml.LongLongMap.fromPairs(pairs)
    assert(m.size === ref.size)
    ref.foreach { case (k, v) => assert(m.getOrElse(k, Long.MinValue) === v) }
    val probes = (1 to 5000).map(_ => rnd.nextLong()) :+ 0L
    probes.foreach { k =>
      assert(m.getOrElse(k, -7L) === ref.getOrElse(k, -7L))
      assert(m.contains(k) === ref.contains(k))
    }
    var n = 0
    m.foreach((k, v) => { assert(ref(k) === v); n += 1 })
    assert(n === ref.size)
  }

  test("sct j loop: later configs see earlier flags (shared spatial-driver skeleton)") {
    // 6 near-inliers + one extreme on one domain, minN at the boundary:
    // config 1 (z=20) flags the extreme; config 2 (z=0.01) would flag nearly
    // everything on the FULL group, but because it sees config 1's flag the
    // alive count drops to 6 and n−1 = 5 < minN = 6 — it must flag nothing.
    val c = corpusOf("h.example", Seq(98, 100, 102, 104, 106, 108, 300))
    val sctOnly = buddyOnlyCfg.copy(enabled = Set(FlagCodes.Sct))
    // counterfactual: z=0.01 alone (full group in stats) flags most rows
    val loose = Cascade.run(c, sctOnly.copy(sctParams = Seq(SctParams(6, 0.01))))
    assert(loose.filter(col(Cols.Dqc) === FlagCodes.Sct).count() >= 5)
    // the j loop: strict config first, loose config second
    val multi = Cascade.run(c, sctOnly.copy(
      sctParams = Seq(SctParams(6, 20.0), SctParams(6, 0.01))))
    val flagged = multi.filter(col(Cols.Dqc) === FlagCodes.Sct)
      .select(Cols.NWords).as[Int].collect().toSeq
    assert(flagged === Seq(300),
      s"config 2 must see config 1's flag (minN guard), got $flagged")
  }

  test("dual j loop: later configs see earlier flags") {
    // 6 short docs + 1 long (the dual event). Config 1 flags the long doc
    // (LOO event fraction 0 ≤ loFrac, ev = 1); config 2 (hiFrac = 0.1)
    // would flag every short doc on the full group (frac = 1/6 ≥ 0.1) but
    // after config 1's flag the fraction is 0 and evn−1 = 5 < minN = 6.
    val c = corpusOf("h.example", Seq(50, 51, 52, 53, 54, 55, 300))
    val dualOnly = buddyOnlyCfg.copy(enabled = Set(FlagCodes.SctDual))
    val loose = Cascade.run(c, dualOnly.copy(
      dualParams = Seq(DualParams(5, 200, -1.0, 0.1))))
    assert(loose.filter(col(Cols.Dqc) === FlagCodes.SctDual).count() >= 5,
      "counterfactual: the loose config alone flags the short docs")
    val multi = Cascade.run(c, dualOnly.copy(
      dualParams = Seq(DualParams(5, 200, 0.1, 0.95), DualParams(6, 200, -1.0, 0.1))))
    val flagged = multi.filter(col(Cols.Dqc) === FlagCodes.SctDual)
      .select(Cols.NWords).as[Int].collect().toSeq
    assert(flagged === Seq(300),
      s"config 2 must see config 1's flag, got $flagged")
  }

  test("configurations × priority classes: two configurations label like the " +
       "single-configuration runs composed (buddy, sct, dual)") {
    // two providers, a.example in priority class 1 and b.example in class 0;
    // in each check config 1 flags the extremes and config 2 either flags
    // more or is held back by what config 1 already stamped
    def corpus(a: Seq[Int], b: Seq[Int]): DataFrame =
      corpusOf("a.example", a).union(corpusOf("b.example", b))
    def labels(df: DataFrame): Map[String, Int] =
      df.select(col(Cols.Url), coalesce(col(Cols.Dqc), lit(-1)))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    def flagged(m: Map[String, Int], code: Int): Set[String] =
      m.collect { case (u, c) if c == code => u }.toSet
    def check[P](name: String, code: Int, df: DataFrame, cfg: CascadeConfig,
                 withParams: (CascadeConfig, Seq[P]) => CascadeConfig, p1: P, p2: P)(
                 once: (DataFrame, CascadeConfig) => DataFrame): Unit = {
      val prepared = Cascade.materialize(Ingest.normalize(df, cfg), eager = true)
      val first = labels(once(prepared, withParams(cfg, Seq(p1))))
      val composed = labels(once(
        once(prepared, withParams(cfg, Seq(p1))), withParams(cfg, Seq(p2))))
      val both = labels(once(prepared, withParams(cfg, Seq(p1, p2))))
      assert(both === composed, s"$name: the j loop must compose its configurations")
      val f1 = flagged(first, code)
      val f2 = flagged(both, code)
      assert(f1.nonEmpty && f1.subsetOf(f2) && f2.size > f1.size,
        s"$name: config 1 flags ${f1.toSeq.sorted}, both ${f2.toSeq.sorted}")
      assert(Seq("a.example", "b.example").forall(d => f2.exists(_.contains(d))),
        s"$name: both priority classes must be judged, got ${f2.toSeq.sorted}")
    }
    val base = buddyOnlyCfg.copy(priorities = Map("a.example" -> 1))
    // buddy on the shared lang key, so class 0 is judged against class 1's
    // survivors. Config 1 (z=3.5) flags 195 and 192, config 2 (z=2.5) adds
    // 169 and 188. The nesting shows: class 0 under config 1 still sees a's
    // 169, which shelters b's 138; running both configurations per class
    // instead would flag 138 too
    check[BuddyParams]("buddy", FlagCodes.Buddy,
      corpus((90 to 110) ++ Seq(169, 195), Seq(99, 115, 138, 188, 192)),
      base.copy(buddyKeys = Seq(Cols.Lang), enabled = Set(FlagCodes.Buddy)),
      (c, ps) => c.copy(buddyParams = ps), BuddyParams(3, 3.5), BuddyParams(3, 2.5))(
      Neighborhood.buddyOnce)
    // sct: on a, config 2 would flag the near-inliers of the full group but
    // config 1's flag drops n−1 below minN; on b enough rows stay alive
    check[SctParams]("sct", FlagCodes.Sct,
      corpus(Seq(98, 100, 102, 104, 106, 108, 300),
        Seq(98, 100, 102, 104, 106, 108, 110, 130, 300)),
      base.copy(enabled = Set(FlagCodes.Sct)),
      (c, ps) => c.copy(sctParams = ps), SctParams(6, 20.0), SctParams(6, 0.01))(
      Neighborhood.sctOnce)
    // dual: config 1 flags a's lone long doc; on b the two long docs shelter
    // each other from config 1, and config 2 flags b's short docs
    check[DualParams]("dual", FlagCodes.SctDual,
      corpus(Seq(50, 51, 52, 53, 54, 55, 300),
        Seq(50, 51, 52, 53, 54, 55, 56, 57, 300, 310)),
      base.copy(enabled = Set(FlagCodes.SctDual)),
      (c, ps) => c.copy(dualParams = ps),
      DualParams(5, 200, 0.1, 0.95), DualParams(6, 200, -1.0, 0.1))(
      Neighborhood.dualOnce)
  }

  test("an empty parameter list is rejected when the config is built") {
    val empty: Seq[() => CascadeConfig] = Seq(
      () => CascadeConfig(buddyParams = Nil),
      () => CascadeConfig(sctParams = Nil),
      () => CascadeConfig(dualParams = Nil),
      () => CascadeConfig(fgtParams = Nil),
      () => buddyOnlyCfg.copy(sctParams = Nil))
    empty.foreach(mk => intercept[IllegalArgumentException](mk()))
  }

  test("keeplist join variant: join-stamped 990 survives the spatial checks " +
    "like inline keepDomains") {
    val c = corpusOf("h.example", (0 until 10).map(98 + _) :+ 300)
    val normalized = Ingest.normalize(c, buddyOnlyCfg)
    // control: without the keeplist the outlier is buddy-flagged
    val control = Neighborhood.buddyOnce(normalized, buddyOnlyCfg)
    assert(control.filter(col(Cols.Dqc) === FlagCodes.Buddy).count() === 1)
    // url-keyed keeplist file (read_data_to_check.r:108-119 sourceId form)
    val keep = Seq("https://h.example/p/10").toDF(Cols.Url)
    val none = Seq.empty[String].toDF(Cols.Url)
    val stamped = Ingest.stampListsJoin(normalized, none, Cols.Url, Some(keep))
    val out = Neighborhood.buddyOnce(stamped, buddyOnlyCfg)
    val outlier = out.filter(col(Cols.Url) === "https://h.example/p/10")
      .select(col(Cols.Dqc)).as[Int].collect().toSeq
    assert(outlier === Seq(FlagCodes.Keep),
      s"join-stamped keep row must survive buddy, got $outlier")
    // blacklist side still wins over keep when a key is on both lists
    val both = Ingest.stampListsJoin(normalized,
      Seq("https://h.example/p/10").toDF(Cols.Url), Cols.Url, Some(keep))
    assert(both.filter(col(Cols.Url) === "https://h.example/p/10")
      .select(col(Cols.Dqc)).as[Int].head() === FlagCodes.Blacklist)
  }

  test("ingest dedup collapses same-url recrawls to the earliest crawl") {
    val ts = (k: Int) => new java.sql.Timestamp(1700000000000L + k * 1000L)
    val rows = Seq(
      ("https://h.example/a", ts(5), "en", "same content here"),
      ("https://h.example/a", ts(2), "en", "same content here"),  // recrawl, earlier
      ("https://h.example/a", ts(9), "en", "same content here"),  // recrawl, later
      ("https://h.example/b", ts(1), "en", "same content here"),  // cross-url dup
      ("https://h.example/c", ts(1), "en", "different content here"))
      .toDF("url", "warc_ts", "lang", "text")
    val out = Ingest.dropDuplicatePages(
      Ingest.normalize(rows, buddyOnlyCfg)).collect()
    assert(out.length === 2, s"one keeper per distinct content, got ${out.length}")
    val keeper = out.filter(_.getAs[String]("text") == "same content here")
    assert(keeper.length === 1)
    assert(keeper.head.getAs[String]("url") === "https://h.example/a")
    assert(keeper.head.getAs[java.sql.Timestamp]("warc_ts") === ts(2),
      "the earliest crawl of the min url is the keeper")
  }

  test("ingest dedup keeps one of several rows equal in fingerprint, url and warc_ts") {
    val ts = (k: Int) => new java.sql.Timestamp(1700000000000L + k * 1000L)
    val text = "same content here"
    val htmls = Seq("<p>same content here</p>", "<div>same content here</div>",
      "<span>same content here</span>")
    val rows = (htmls.map(h => ("https://h.example/a", ts(1), "en", text, h)) :+
        ("https://h.example/a", ts(3), "en", text, htmls.head)) // later recrawl
      .map { case (u, t, l, x, h) => (u, t, l, x, h.getBytes("UTF-8")) }
      .toDF("url", "warc_ts", "lang", "text", "html")
    val out = Ingest.dropDuplicatePages(
      Ingest.normalize(rows, buddyOnlyCfg)).collect()
    assert(out.length === 1, s"one keeper of the triple, got ${out.length}")
    assert(out.head.getAs[java.sql.Timestamp]("warc_ts") === ts(1))
    assert(htmls.contains(new String(out.head.getAs[Array[Byte]]("html"), "UTF-8")))
  }

  test("fgt j loop: each fgtParams configuration applies as a sticky pass") {
    // fgt only reads pplStats + the ensemble size, so a stub model suffices
    val stubLm = graft.ml.NgramLMModel(2, 0,
      graft.ml.LongLongMap.fromPairs(Nil), 1L, 1L)
    val models = Models(
      graft.ml.LangId.default, Seq(stubLm), Seq(Map("en" -> (5.0, 1.0))))
    // mean 5.0, sd 1.0; the 20.0 row deviates by 15 sd; one row pre-flagged
    val df = Seq(
      ("https://h.example/a", "en", 1, 5.0, null.asInstanceOf[Integer]),
      ("https://h.example/b", "en", 1, 5.5, null.asInstanceOf[Integer]),
      ("https://h.example/c", "en", 1, 20.0, null.asInstanceOf[Integer]),
      ("https://h.example/d", "en", 1, 20.0, Integer.valueOf(FlagCodes.Blacklist)))
      .toDF(Cols.Url, Cols.Lang, Cols.Doit, s"${Cols.LogPpl}0", Cols.Dqc)
    def flaggedUrls(cfg: CascadeConfig): Seq[String] =
      ModelChecks.fgt(df, cfg, models)
        .filter(col(Cols.Dqc) === FlagCodes.Fgt)
        .select(Cols.Url).as[String].collect().toSeq.sorted
    val base = buddyOnlyCfg
    // one configuration: z=3 flags the 15-sd outlier, z=50 flags nothing
    assert(flaggedUrls(base.copy(fgtParams = Seq(FgtParams(3.0, 0.3)))) ===
      Seq("https://h.example/c"))
    assert(flaggedUrls(base.copy(fgtParams = Seq(FgtParams(50.0, 0.3)))) === Seq.empty)
    // multi-config: strict pass flags nothing, loose second pass flags the
    // outlier; the pre-flagged row is never touched (sticky)
    val multi = ModelChecks.fgt(df, base.copy(
      fgtParams = Seq(FgtParams(50.0, 0.3), FgtParams(3.0, 0.3))), models)
    assert(multi.filter(col(Cols.Dqc) === FlagCodes.Fgt)
      .select(Cols.Url).as[String].collect().toSeq === Seq("https://h.example/c"))
    assert(multi.filter(col(Cols.Url) === "https://h.example/d")
      .select(Cols.Dqc).as[Int].head() === FlagCodes.Blacklist)
  }

  test("repetition features: hand-computed top/dup n-gram fractions") {
    // "a b a b a b": 2-grams (ab ba ab ba ab) → top 3/5, dup 5/5;
    //                3-grams (aba bab aba bab) → top 2/4, dup 4/4
    val df = Seq(
      (1L, "a b a b a b"),
      (2L, "w x y z"), // all unique: top2 1/3, dup2 0; top3 1/2, dup3 0
      (3L, ""),        // no grams → null fractions
      (4L, "solo"))
      .toDF("doc_id", "text")
    val f = graft.operators.Repetition.features(df).orderBy("doc_id")
      .select("rep_top2_frac", "rep_dup2_frac", "rep_top3_frac", "rep_dup3_frac")
      .collect()
    assert(f(0).getDouble(0) === 3.0 / 5 && f(0).getDouble(1) === 1.0)
    assert(f(0).getDouble(2) === 2.0 / 4 && f(0).getDouble(3) === 1.0)
    assert(f(1).getDouble(0) === 1.0 / 3 && f(1).getDouble(1) === 0.0)
    assert(f(1).getDouble(2) === 1.0 / 2 && f(1).getDouble(3) === 0.0)
    assert((0 to 3).forall(f(2).isNullAt), "no words → no gram population")
    assert((0 to 3).forall(f(3).isNullAt), "one word → no gram population")
  }

  test("repetition native expression == HOF executable spec on the fixture corpus") {
    // bit-exact differential: the codegen'd RepetitionExpr against the
    // declarative sorted-run fold, over real generated texts (incl. the
    // repeated-phrase and word-salad defect classes), double spaces, and
    // sub-n-word edge docs
    val corpus = io.PagesGen.generate(spark, 400)
      .select(col("url").as("doc_id"), col("text"))
      .union(Seq(("edge1", "a  b   a b"), ("edge2", " "), ("edge3", "x y"))
        .toDF("doc_id", "text"))
    val cols = Seq("doc_id", "rep_top2_frac", "rep_dup2_frac",
      "rep_top3_frac", "rep_dup3_frac")
    val native = graft.operators.Repetition.features(corpus)
      .select(cols.head, cols.tail: _*).orderBy("doc_id").collect()
    val spec = graft.operators.Repetition.featuresSpec(corpus)
      .select(cols.head, cols.tail: _*).orderBy("doc_id").collect()
    assert(native.length === spec.length)
    native.zip(spec).foreach { case (n, s) =>
      assert(n === s, s"native/spec mismatch for ${n.getString(0)}")
    }
  }

  test("repetition check 503: ceilings flag, sticky respected, off by default") {
    val df = Seq(
      ("https://h.example/a", 1, "a b a b a b", null.asInstanceOf[Integer]),
      ("https://h.example/b", 1, "fresh words only here now", null.asInstanceOf[Integer]),
      ("https://h.example/c", 1, "a b a b a b", Integer.valueOf(FlagCodes.Blacklist)))
      .toDF(Cols.Url, Cols.Doit, Cols.Text, Cols.Dqc)
    val cfg = buddyOnlyCfg.copy(maxTop2GramFrac = 0.5)
    val out = RowChecks.repetition.transform(df, cfg)
    assert(out.filter(col(Cols.Dqc) === FlagCodes.Repetition)
      .select(Cols.Url).as[String].collect().toSeq === Seq("https://h.example/a"),
      "only the unflagged repetitive doc is stamped (0.6 > 0.5); sticky rows kept")
    assert(!out.columns.exists(_.startsWith("rep_")), "feature columns dropped")
    // stage gating: inert at the off defaults, built when a ceiling is set
    val inert = Cascade.stages(buddyOnlyCfg.copy(
      enabled = Set(FlagCodes.Repetition)))
    assert(!inert.exists(_.code == FlagCodes.Repetition),
      "no 503 stage at the 1.0 sentinel ceilings")
    val active = Cascade.stages(cfg.copy(enabled = Set(FlagCodes.Repetition)))
    assert(active.exists(_.code == FlagCodes.Repetition))
  }

  test("payload split: identical output to the single-frame path") {
    // heterogeneous corpus (two domains, an outlier, a passthrough column)
    // through a config with several self-join stages + ingest dedup + caps;
    // Cascade.run splits at the first self-join stage, the reference folds
    // one frame — the labeled output (rows, values, columns) must be identical
    val rows = corpusOf("h.example", (0 until 10).map(98 + _) ++ Seq(300, 300))
      .unionByName(corpusOf("k.example", (0 until 8).map(60 + _)))
      .withColumn("extra_payload", concat(col(Cols.Url), lit("#x")))
    val cfg = buddyOnlyCfg.copy(
      enabled = Set(FlagCodes.Buddy, FlagCodes.SctDual, FlagCodes.Isolation,
        FlagCodes.Plausibility),
      dedupIngest = true, maxRefsPerGroup = Some(9))
    val split = Cascade.run(rows, cfg)
    val plain = unsplitRun(rows, cfg)
    // column ORDER is not part of the contract (the single-frame fold's
    // using-joins move join keys to the front); the column SET and every
    // value are
    assert(split.columns.toSet === plain.columns.toSet, "schema parity")
    val cols = split.columns.sorted.map(col).toSeq
    val a = split.select(cols: _*).orderBy(Cols.Url).collect().toSeq
    val b = plain.select(cols: _*).orderBy(Cols.Url).collect().toSeq
    assert(a === b, "row-for-row parity between split and single-frame paths")
    assert(split.columns.contains("extra_payload"),
      "caller passthrough columns survive the payload reattach")
  }

  test("payload split + key encoding: full model cascade matches single-frame path") {
    // the split path additionally key-encodes domain/lang (Cascade.encodeKeys);
    // this parity run exercises every encoded consumer the small test above
    // cannot: fgt's per-language background lookup (hashed literals), sctFg,
    // and sctFgDual's pseudo-doc union on the encoded light schema — all
    // with models, against the unsplit single-frame (string-keyed) fold
    val corpus = io.PagesGen.generate(spark, 3000)
    val train = io.PagesGen.generateWithClass(spark, 3000)
      .filter(col("clazz") === "clean").select("text", "lang")
    val models = Models.train(spark, train)
    val cfg = io.PagesGen.matchingConfig
    val split = Cascade.run(corpus, cfg, Some(models), io.PagesGen.exemplarTexts())
    val plain = unsplitRun(corpus, cfg, Some(models), io.PagesGen.exemplarTexts())
    assert(split.columns.toSet === plain.columns.toSet, "schema parity")
    val keyCols = Seq(Cols.Url, Cols.Domain, Cols.Lang, Cols.Dqc, Cols.KeepCol).map(col)
    val a = split.select(keyCols: _*).orderBy(Cols.Url).collect().toSeq
    val b = plain.select(keyCols: _*).orderBy(Cols.Url).collect().toSeq
    assert(a === b, "labels + decoded string keys identical under key encoding")
  }

  test("model features native expression == direct model calls, bit-exact") {
    // differential gate for the codegen'd ModelFeaturesExpr: the struct it
    // writes must equal driver-side langId.detect + per-member perplexity
    // on the same strings, including the null/empty-text contract (null
    // text coalesces to "" inside withModelFeatures → ("und", 0.0) and the
    // empty-token perplexity, exactly the old UDF's null behavior)
    val models = Models.train(spark,
      io.PagesGen.generateWithClass(spark, 2000)
        .filter(col("clazz") === "clean").select("text", "lang"))
    val corpus = io.PagesGen.generate(spark, 300)
      .select("url", "lang", "text")
      .union(Seq(
        ("https://e.example/null", "en", null.asInstanceOf[String]),
        ("https://e.example/empty", "en", ""),
        ("https://e.example/ws", "en", "   ")).toDF("url", "lang", "text"))
    val out = ModelChecks.withModelFeatures(corpus, models)
      .select(col(Cols.Url), col("text"), col(Cols.DetLang), col(Cols.DetLangConf),
        col(s"${Cols.LogPpl}0"), col(s"${Cols.LogPpl}1"), col(s"${Cols.LogPpl}2"))
      .orderBy(Cols.Url).collect()
    assert(out.length === 303)
    out.foreach { r =>
      val t = if (r.isNullAt(1)) "" else r.getString(1)
      val det = models.langId.detect(t)
      val toks = graft.ml.NgramLM.tokenHashes(t)
      assert(r.getString(2) === det._1, s"lang mismatch for ${r.getString(0)}")
      assert(r.getDouble(3) === det._2, s"conf mismatch for ${r.getString(0)}")
      (0 until 3).foreach { i =>
        assert(r.getDouble(4 + i) === models.lms(i).logPerplexityTokens(toks),
          s"ppl$i mismatch for ${r.getString(0)}")
      }
    }
  }

  test("sctFgDual: single-aggregate domain dimension == two-scan construction") {
    // differential gate for the domCounts reuse: the new shape (one
    // eligible-rows aggregate feeding both the pseudo-doc dimension and the
    // precomputed cap counts) must label every row exactly like the old
    // shape (corpus-wide distinct + groupStats recounting the unioned
    // frame). The corpus makes the differences observable: the cap BINDS on
    // big.example (130 real + 2 pseudo > 40), stays slack on small.example,
    // and dead.example is fully blacklisted (present in the old distinct,
    // absent from the new eligible-only dimension — must not matter).
    val cfg = CascadeConfig(
      enabled = Set(FlagCodes.SctFgDual),
      blacklistDomains = Set("dead.example"), keepDomains = Set.empty,
      maxRefsPerGroup = Some(40), fgDualMinN = 3)
    val rows = (0 until 160).map { i =>
      val dom = if (i < 130) "big.example" else "small.example"
      val text =
        if (i % 13 == 0) Seq.fill(30)("42 7 99").mkString(" ")
        else Seq.fill(60)("alpha").mkString(" ")
      (s"https://$dom/p/$i", dom, "en", text)
    } ++ (0 until 5).map(i => (s"https://dead.example/p/$i", "dead.example", "en", "1 2 3"))
    val df = Ingest.stampLists(
      Ingest.normalize(rows.toDF("url", "domain", "lang", "text"), cfg), cfg)
      .localCheckpoint()
    val pseudoTexts = Seq(
      Seq.fill(20)("5 5 5").mkString(" "), Seq.fill(20)("prose prose").mkString(" "))
    def labels(d: DataFrame): Seq[(String, Int)] =
      d.select(col(Cols.Url), col(Cols.Dqc)).collect()
        .map(r => (r.getString(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
        .sortBy(_._1).toSeq
    val out = labels(ModelChecks.sctFgDual(df, cfg, pseudoTexts))

    // the round-3 construction, inline
    val marked = df.withColumn("_pseudo", lit(false))
    val pseudoBase = df.select(col(Cols.Domain)).distinct()
      .crossJoin(broadcast(pseudoTexts.zipWithIndex.toDF("_ptext", "_pidx")))
    val pseudo = Ingest.features(
      pseudoBase.select(
        concat(lit("pseudo://"), col(Cols.Domain), lit("/"), col("_pidx")).as(Cols.Url),
        col(Cols.Domain), col("_ptext").as(Cols.Text)))
      .drop(Cols.Text)
      .withColumn(Cols.Lang, lit(null).cast("string"))
      .withColumn(Cols.Doit, lit(2))
      .withColumn(Cols.Prio, lit(0))
      .withColumn(Cols.Dqc, lit(null).cast("int"))
      .withColumn("_pseudo", lit(true))
    val unioned = marked.unionByName(pseudo, allowMissingColumns = true)
    val event = (col(Cols.DigitRatio) > cfg.fgDualDigitRatio).cast("int")
    val stats = Neighborhood.groupStats(unioned.withColumn("_ev", event), col("_ev"), cfg)
      .withColumnRenamed("_s", "_evs").withColumnRenamed("_n", "_evn").drop("_q")
    val joined = unioned.withColumn("_ev", event).join(stats, Seq(Cols.Domain), "left")
    val selfIn = coalesce(
      Neighborhood.inSampleCond(cfg.maxRefsPerGroup.get, col("_gn")), lit(false))
    val evSelf = when(selfIn, col("_ev").cast("long")).otherwise(lit(0L))
    val ns = when(selfIn, lit(1L)).otherwise(lit(0L))
    val nn = (col("_evn") - ns).cast("double")
    val frac = when(nn > 0, (col("_evs") - evSelf).cast("double") / nn)
    val fail = (col("_evn") - ns) >= cfg.fgDualMinN &&
      ((frac >= cfg.fgDualHiFrac && col("_ev") === 0) ||
       (frac <= cfg.fgDualLoFrac && col("_ev") === 1))
    val expected = labels(
      Stage.sticky(joined, fail, FlagCodes.SctFgDual, flagsKeep = false)
        .filter(!col("_pseudo")))

    assert(out === expected, "labels must be unchanged by the domain-dimension reuse")
    // the scenario must actually exercise the stage: slack-cap small.example
    // deterministically flags its digit-heavy rows (frac 3/31 <= 0.1)
    assert(out.count(_._2 === FlagCodes.SctFgDual) >= 1)
    assert(out.count(_._2 === FlagCodes.Blacklist) === 5)
  }

  test("scrub report: exact least-squares on a synthetic linear relation") {
    // raw = k chars + " 555-123-4567" (13) → scrubbed = k + " <PHONE>" (8):
    // y = x − 5 exactly, so slope must be exactly 1.0 and intercept −5.0
    val df = (10 to 30 by 5).map(k =>
      (s"https://h.example/$k", "h.example", "x" * k + " 555-123-4567"))
      .toDF("url", Cols.Domain, "text")
      .withColumn("_scr", graft.ml.Scrubber.scrub(col("text")))
    val rep = ModelChecks.scrubReport(df, col("text"), col("_scr")).collect()
    assert(rep.length === 1)
    assert(rep(0).getAs[Double]("slope") === 1.0)
    assert(rep(0).getAs[Double]("intercept") === -5.0)
  }

  test("native text features == the built-in Column formulas (TextStatsExpr parity)") {
    import graft.functions.TextFeatures._
    val edges = Seq("", " ", "a  b", "  lead and trail  ", "the the the", "one\ntwo\n",
      "tab\there", "na\u00efve caf\u00e9 \u6771\u4eac", "?!.,;:", null)
    val corpus = io.PagesGen.generate(spark, 300).select("url", "text")
      .union(edges.zipWithIndex.map { case (t, i) => (s"edge$i", t) }.toDF("url", "text"))
    val t = col(Cols.Text)
    val reference = Seq(
      Cols.NChars -> nChars(t), Cols.NWords -> nWords(t), Cols.MeanWordLen -> meanWordLen(t),
      Cols.SymbolRatio -> symbolRatio(t), Cols.StopRatio -> stopwordRatio(t, EnStopwords),
      Cols.DistinctWordRatio -> distinctWordRatio(t), Cols.DigitRatio -> digitRatio(t))
    val mismatches = Ingest.features(corpus).select(reference.map { case (c, ref) =>
      sum(when(col(c) <=> ref, 0).otherwise(1)).as(c) }: _*).head()
    assert(reference.forall { case (c, _) => mismatches.getAs[Long](c) == 0L },
      s"rows differing from the built-in formula, per feature: $mismatches")
  }

  test("withCols resolves names like withColumn under either case sensitivity") {
    val df = Seq((1, 2)).toDF("a", "b")
    def check(): Unit = {
      val got = Ingest.withCols(df, Seq("A" -> lit(7)))
      val want = df.withColumn("A", lit(7))
      assert(got.columns === want.columns)
      assert(got.collect() === want.collect())
    }
    // default caseSensitive=false: "A" replaces "a" in place
    check()
    assert(Ingest.withCols(df, Seq("A" -> lit(7))).columns.length === 2)
    spark.conf.set("spark.sql.caseSensitive", "true")
    try check() // "A" is a new column
    finally spark.conf.unset("spark.sql.caseSensitive")
  }
}

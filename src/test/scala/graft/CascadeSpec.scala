package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model._
import graft.stages._
import graft.cascade.Cascade
import graft.io.{Docs, PagesGen}

/** Cascade semantics — the invariants from SURVEY.md §2.6 that make the
  * check order part of the spec.
  */
class CascadeSpec extends SparkSpec {
  private def cfg = SparkEntry.docCfg

  /** (url, dqc, keep) per row, sorted by url. */
  private def urlLabels(df: DataFrame): Seq[(String, Int, Boolean)] =
    df.select("url", Cols.Dqc, Cols.KeepCol).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2))).toSeq.sortBy(_._1)

  test("entry returns labeled rows with a total keep/drop decision") {
    val out = SparkEntry.entry(spark).cache()
    assert(out.count() > 0)
    assert(out.filter(col(Cols.Dqc).isNull).count() === 0)
    val codes = out.select(Cols.Dqc).distinct().collect().map(_.getInt(0)).toSet
    val legal = Set(FlagCodes.Good, FlagCodes.Keep, FlagCodes.Blacklist,
      FlagCodes.Metadata, FlagCodes.CrossField, FlagCodes.LangMismatch,
      FlagCodes.Plausibility, FlagCodes.LangBounds, FlagCodes.Repetition,
      FlagCodes.SctDual, FlagCodes.Buddy, FlagCodes.Sct, FlagCodes.Isolation)
    assert(codes.subsetOf(legal), s"unexpected codes ${codes -- legal}")
    out.unpersist()
  }

  test("sticky first-failure: stages never overwrite a non-null flag") {
    // Fold the stages one at a time; after each stage, every previously
    // non-null flag must be byte-identical (plausibility_test.r:7-11 skeleton).
    val prepared = Ingest.stampLists(Ingest.normalize(Docs.pages(spark, sfDir), cfg), cfg)
    var prev = prepared.select(col("doc_id"), col(Cols.Dqc)).withColumnRenamed(Cols.Dqc, "prev")
    var cur = prepared
    for (s <- Cascade.stages(cfg)) {
      // materialize every stage output before the diagnostic self-join:
      // joining two lazy copies of the same 14-stage chain and pushing the
      // `prev` predicates through it is a plan no real consumer builds
      // (Cascade.run checkpoints selfRef inputs and ends in an optimizer
      // barrier), and it needlessly recomputes the cascade twice per stage
      cur = Cascade.materialize(s.f(if (s.selfRef) cur.localCheckpoint(true) else cur),
        eager = true)
      val joined = cur.select(col("doc_id"), col(Cols.Dqc)).join(prev, "doc_id")
      val overwritten = joined.filter(
        col("prev").isNotNull && (col(Cols.Dqc).isNull || col(Cols.Dqc) =!= col("prev")) &&
          // metadata/plausibility may legally replace 990 (keep) flags
          !(col("prev") === FlagCodes.Keep &&
            col(Cols.Dqc).isin(FlagCodes.Metadata, FlagCodes.Plausibility))
      ).count()
      assert(overwritten === 0, s"stage ${s.code} overwrote sticky flags")
      prev = cur.select(col("doc_id"), col(Cols.Dqc)).withColumnRenamed(Cols.Dqc, "prev")
    }
  }

  test("keep-list asymmetry: keep rows only flaggable by metadata/plausibility") {
    val out = Cascade.run(Docs.pages(spark, sfDir), cfg)
    val keepDomainRows = out.filter(col(Cols.Domain).isin(cfg.keepDomains.toSeq: _*))
    val badCodes = keepDomainRows
      .filter(!col(Cols.Dqc).isin(FlagCodes.Keep, FlagCodes.Metadata, FlagCodes.Plausibility))
      .count()
    assert(badCodes === 0)
  }

  test("blacklist wins over keeplist and over every check") {
    val out = Cascade.run(Docs.pages(spark, sfDir), cfg)
    val black = out.filter(col(Cols.Domain).isin(cfg.blacklistDomains.toSeq: _*))
    assert(black.count() > 0)
    assert(black.filter(col(Cols.Dqc) =!= FlagCodes.Blacklist).count() === 0)
  }

  test("doit=0 providers are excluded entirely; doit=2 never flagged") {
    val c2 = cfg.copy(doit = Map("src1" -> 0, "src2" -> 2))
    val out = Cascade.run(Docs.pages(spark, sfDir), c2)
    assert(out.filter(col(Cols.Domain) === "src1").count() === 0)
    val src2Flagged = out.filter(col(Cols.Domain) === "src2" &&
      !col(Cols.Dqc).isin(FlagCodes.Good, FlagCodes.Keep)).count()
    assert(src2Flagged === 0)
  }

  test("priority rounds: higher-priority providers are judged only by their own class") {
    // Two providers sharing one neighborhood (buddy key = lang, as providers
    // share spatial circles in the reference, buddy.r:112-155): a dense
    // trusted provider A (prio 1) and a sparse wild provider B (prio 0).
    import spark.implicits._
    val rows =
      (1 to 20).map(i => (s"https://a.example/$i", "a.example", "en", 100 + (i % 5))) ++
      (1 to 2).map(i => (s"https://b.example/$i", "b.example", "en", 400))
    val df = rows.toDF("url", "domain", "lang", "nw")
      .withColumn("text", concat_ws(" ", transform(sequence(lit(1), col("nw")), _ => lit("w"))))
      .select("url", "domain", "lang", "text")
    // dedupIngest off: this corpus deliberately reuses identical "w w w…"
    // texts, and the flagship config's ingest dedup would collapse them —
    // this test isolates priority-round semantics
    val base = cfg.copy(buddyKeys = Seq("lang"), buddyParams = Seq(BuddyParams(3, 2.5)),
      enabled = Set(FlagCodes.Buddy), blacklistDomains = Set.empty, keepDomains = Set.empty,
      dedupIngest = false, buddyLog1p = false)

    // A first (prio 1): A judged against A only (consistent), then B judged
    // against everything alive — B's outliers get flagged.
    val out1 = Cascade.run(df, base.copy(priorities = Map("a.example" -> 1)))
    assert(out1.filter(col(Cols.Domain) === "b.example" &&
      col(Cols.Dqc) === FlagCodes.Buddy).count() === 2)
    assert(out1.filter(col(Cols.Domain) === "a.example" &&
      col(Cols.Dqc) === FlagCodes.Buddy).count() === 0)

    // B first (prio 1): B judged only by its own tiny class (below minN,
    // unjudgeable), then A judged against the B-contaminated pool — nothing
    // clears the z threshold. Order of judgement changes the verdict, which
    // is exactly the reference's priority semantics.
    val out2 = Cascade.run(df, base.copy(priorities = Map("b.example" -> 1)))
    assert(out2.filter(col(Cols.Dqc) === FlagCodes.Buddy).count() === 0)
  }

  test("final decision is total and keep = (dqc in {0, 990})") {
    val out = Cascade.run(Docs.pages(spark, sfDir), cfg)
    val bad = out.filter(
      col(Cols.KeepCol) =!= (col(Cols.Dqc) === FlagCodes.Good || col(Cols.Dqc) === FlagCodes.Keep)
    ).count()
    assert(bad === 0)
  }

  test("metrics table has per-partition lineage and covers all rows") {
    val out = Cascade.run(Docs.pages(spark, sfDir), cfg)
    val m = Cascade.metrics(out)
    assert(m.columns.toSet === Set("domain", "dqc", "partition_id", "n_docs"))
    val total = m.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(total === out.count())
  }

  test("convergence loop terminates and flags at least the single pass") {
    val c2 = cfg.copy(buddyMaxIter = 5, buddyBreakAt = 0L)
    val once = Cascade.run(Docs.pages(spark, sfDir), cfg)
      .filter(col(Cols.Dqc) === FlagCodes.Buddy).count()
    val iter = Cascade.run(Docs.pages(spark, sfDir), c2)
      .filter(col(Cols.Dqc) === FlagCodes.Buddy).count()
    assert(iter >= once)
  }

  test("local and snapshot materializers label the fixture identically") {
    val fixtureCfg = Fixture.cfg
    val pages = PagesGen.generate(spark, 600L)
    val root = java.nio.file.Files.createTempDirectory("parity").toString
    val snapshot = urlLabels(Cascade.runResumable(pages, fixtureCfg, root))
    assert(snapshot.nonEmpty)
    assert(urlLabels(Cascade.run(pages, fixtureCfg)) === snapshot)
  }

  test("a stage list without a self-join stage labels alike in every form and commits no stage") {
    val rowLocal = Fixture.cfg.copy(
      enabled = Set(FlagCodes.Metadata, FlagCodes.Plausibility, FlagCodes.LangBounds))
    assert(!Cascade.stages(rowLocal).exists(_.selfRef))
    val pages = PagesGen.generate(spark, 600L)
    val root = java.nio.file.Files.createTempDirectory("rowlocal").toString
    val snapshot = urlLabels(Cascade.runResumable(pages, rowLocal, root))
    assert(snapshot.nonEmpty)
    assert(urlLabels(Cascade.run(pages, rowLocal)) === snapshot)
    assert(urlLabels(streaming.StreamingFilter.rowLocalPrefix(pages, rowLocal)) === snapshot)
    val tables = new java.io.File(root).list().toSet
    assert(tables === Set("pages_labeled", "metrics"),
      s"only the final labels and metrics are committed, got $tables")
  }

  /** Exchanges of `plans` that partition on the cascade's row id: the
    * spread of a narrow prefix input.
    */
  private def spreads(plans: Seq[org.apache.spark.sql.execution.SparkPlan]) =
    plans.flatMap(PlanNodes.of).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.filter(_.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.references.exists(_.name == "_graft_rid")
      case _ => false
    })

  /** The fixture config with only row-local checks: no self-join stage. */
  private def rowLocal = Fixture.cfg.copy(
    enabled = Set(FlagCodes.Metadata, FlagCodes.Plausibility, FlagCodes.LangBounds))

  test("Cascade.run labels alike on one input partition and on many; only the one spreads") {
    val s = spark.sparkContext.defaultParallelism
    val pages = PagesGen.generate(spark, 600L)
    val narrow = pages.coalesce(1)
    val wide = pages.repartition(2 * s).localCheckpoint(true)
    for (cfg <- Seq(Fixture.cfg, rowLocal)) {
      var one, many: Seq[(String, Int, Boolean)] = Nil
      var oneParts = 0
      val onePlans = executedPlans {
        val out = Cascade.run(narrow, cfg)
        one = urlLabels(out)
        oneParts = out.rdd.getNumPartitions
      }
      val manyPlans = executedPlans { many = urlLabels(Cascade.run(wide, cfg)) }
      assert(one.size >= 595 && one === many)
      if (Cascade.stages(cfg).exists(_.selfRef))
        assert(spreads(onePlans).map(_.numPartitions) === Seq(s),
          "a one-partition input is spread once, to the default parallelism")
      else assert(spreads(onePlans).isEmpty, "a stage list without a self-join stage spreads nothing")
      assert(oneParts <= 2, s"a one-partition input's result is on $oneParts partitions")
      assert(spreads(manyPlans).isEmpty, "an input of enough partitions is not spread")
    }
  }

  test("of rows equal in fingerprint, url and warc_ts every form keeps the same one") {
    val base = PagesGen.generate(spark, 600L).withColumn("tag", lit("gen"))
    val url = base.filter(length(trim(col(Cols.Text))) > 0).select("url")
      .as[String](org.apache.spark.sql.Encoders.STRING).head()
    val twin = base.filter(col("url") === url)
    // the generated row, then two rows differing from it only in html and
    // tag, all on one partition (so the local form spreads it)
    val pages = base.unionByName(twin.withColumn("html", lit("<b>x</b>").cast("binary"))
        .withColumn("tag", lit("b")))
      .unionByName(twin.withColumn("html", lit("<i>y</i>").cast("binary"))
        .withColumn("tag", lit("c")))
      .coalesce(1)
    def kept(df: DataFrame): Seq[String] =
      df.filter(col("url") === url).select("tag").as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("tie").toString
    Cascade.runResumable(pages, Fixture.cfg, root, stopAfterStages = 1)
    val forms = Seq(
      "run" -> kept(Cascade.run(pages, Fixture.cfg)),
      "runResumable" -> kept(Cascade.runResumable(pages, Fixture.cfg,
        java.nio.file.Files.createTempDirectory("tie").toString)),
      "resumed runResumable" -> kept(Cascade.runResumable(pages, Fixture.cfg, root)),
      "run without a self-join stage" -> kept(Cascade.run(pages, rowLocal)),
      "runResumable without a self-join stage" -> kept(Cascade.runResumable(pages, rowLocal,
        java.nio.file.Files.createTempDirectory("tie").toString)))
    forms.foreach { case (form, tags) => assert(tags.size === 1, s"$form kept $tags") }
    assert(forms.map(_._2).distinct.size === 1, s"the forms disagree: $forms")
  }

  test("an input read in a new row order each time keeps one of rows equal in fingerprint, url and warc_ts in every form") {
    val base = PagesGen.generate(spark, 600L).withColumn("tag", lit("gen"))
    val url = base.filter(length(trim(col(Cols.Text))) > 0).select("url")
      .as[String](org.apache.spark.sql.Encoders.STRING).head()
    val twin = base.filter(col("url") === url)
    val triple = base.unionByName(twin.withColumn("html", lit("<b>x</b>").cast("binary"))
        .withColumn("tag", lit("b")))
      .unionByName(twin.withColumn("html", lit("<i>y</i>").cast("binary"))
        .withColumn("tag", lit("c")))
    def urls(df: DataFrame): Seq[String] =
      df.select("url").as[String](org.apache.spark.sql.Encoders.STRING).collect().toSeq.sorted
    def tmp() = java.nio.file.Files.createTempDirectory("reordered").toString
    // one partition (the local form spreads it) and more than the default
    // parallelism (it does not)
    for (parts <- Seq(1, 2 * spark.sparkContext.defaultParallelism)) {
      val stored = triple.repartition(parts).localCheckpoint(true)
      // every read permutes each partition anew, as the fetch order of a
      // shuffle may: a row number derived twice from it names two
      // different rows
      val pages = spark.createDataFrame(stored.rdd.mapPartitions(rows =>
        scala.util.Random.shuffle(rows.toVector).iterator), stored.schema)
      val forms = Seq(
        "dropDuplicatePages" -> urls(Ingest.dropDuplicatePages(Ingest.normalize(pages, rowLocal))),
        "run" -> urls(Cascade.run(pages, Fixture.cfg)),
        "runResumable" -> urls(Cascade.runResumable(pages, Fixture.cfg, tmp())),
        "run without a self-join stage" -> urls(Cascade.run(pages, rowLocal)),
        "runResumable without a self-join stage" -> urls(Cascade.runResumable(pages, rowLocal, tmp())))
      forms.foreach { case (form, us) =>
        assert(us.count(_ == url) === 1, s"$parts partition(s): $form kept ${us.count(_ == url)} of the three")
      }
      assert(forms.map(_._2).distinct.size === 1, s"$parts partition(s): the forms keep different rows")
    }
  }

  test("job labels nest: a job after a stats action keeps the enclosing stage label") {
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.probe")))
          .foreach(k => descs.put(k, String.valueOf(e.properties.getProperty("spark.job.description"))))
    }
    val df = spark.range(400).select(
      xxhash64(col("id")).as(Cols.UrlHash),
      concat(lit("host"), (col("id") % 7).cast("string")).as(Cols.Domain),
      lit(null).cast("int").as(Cols.Dqc),
      lit(1).as(Cols.Doit),
      (col("id") % 50).cast("int").as(Cols.NWords),
      (col("id") % 50).as("x"))
    sc.addSparkListener(listener)
    try {
      // the fused stats action, capped and uncapped, and sct's joinReady
      // count action
      for ((path, stats) <- Seq[(String, () => DataFrame)](
             "fused" -> (() => Neighborhood.groupStats(df, col("x"),
               CascadeConfig(maxRefsPerGroup = Some(1000)))),
             "uncapped" -> (() => Neighborhood.groupStats(df, col("x"), CascadeConfig())),
             "joinReady" -> (() => Neighborhood.sctOnce(df, CascadeConfig())))) {
        sc.setJobDescription("cascade: stage 10")
        try {
          stats()
          sc.setLocalProperty("graft.test.probe", path)
          df.count()
        } finally {
          sc.setLocalProperty("graft.test.probe", null)
          sc.setJobDescription(null)
        }
      }
      org.apache.spark.ListenerDrain.drain(sc)
      assert(descs.get("fused") === "cascade: stage 10")
      assert(descs.get("uncapped") === "cascade: stage 10")
      assert(descs.get("joinReady") === "cascade: stage 10")
    } finally sc.removeSparkListener(listener)
  }

  /** A neighborhood-shaped frame over `n` rows (7 domains), already
    * materialized like a stage input; `dqc` stamps every row, or none.
    */
  private def statsInput(n: Int, dqc: Option[Int] = None): DataFrame =
    spark.range(n).select(
      xxhash64(col("id")).as(Cols.UrlHash),
      concat(lit("host"), (col("id") % 7).cast("string")).as(Cols.Domain),
      lit(dqc.orNull).cast("int").as(Cols.Dqc),
      lit(1).as(Cols.Doit),
      lit(0).as(Cols.Prio),
      (col("id") % 50).cast("int").as(Cols.NWords),
      (col("id") % 50).as("x"))
      .localCheckpoint(true)

  test("a capped groupStats over a materialized frame runs two Spark jobs") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.probe") == "stats"))
          jobs.incrementAndGet()
    }
    val df = statsInput(400)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.probe", "stats")
      // the aggregate's map stage, then the checkpoint that observes the
      // group count and the largest group: no second job reads it back
      try Neighborhood.groupStats(df, col("x"), CascadeConfig(maxRefsPerGroup = Some(1000)))
      finally sc.setLocalProperty("graft.test.probe", null)
      org.apache.spark.ListenerDrain.drain(sc)
      assert(jobs.get === 2)
    } finally sc.removeSparkListener(listener)
  }

  test("groupStats, joinReady and iterate return on an empty frame and on a " +
       "frame with no reference-eligible row") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.{Seconds, Span}
    implicit val signaler: Signaler = ThreadSignaler
    val buddyCfg = CascadeConfig(buddyParams = Seq(BuddyParams(2, 0.5)))
    for ((name, df) <- Seq("empty" -> statsInput(0),
                           "no eligible row" -> statsInput(400, Some(FlagCodes.Blacklist))))
      TimeLimits.failAfter(Span(120, Seconds)) {
        def labels(d: DataFrame) =
          d.select(Cols.UrlHash, Cols.Dqc).collect().map(r => r.getLong(0) -> r.get(1)).toMap
        val before = labels(df)
        // capped and uncapped stats (fused, observed max of a possibly
        // empty table): no group
        assert(Neighborhood.groupStats(df, col("x"),
          buddyCfg.copy(maxRefsPerGroup = Some(3))).count() === 0, name)
        assert(Neighborhood.groupStats(df, col("x"), buddyCfg).count() === 0, name)
        // sct's stats (joinReady's observed count of an empty table):
        // nothing flagged
        assert(labels(Neighborhood.sctOnce(df, buddyCfg)) === before, name)
        // the observed per-round count reads 0 and the iteration stops
        // after one round, flagging nothing
        val out = Cascade.iterate(df, 3, 0L, FlagCodes.Buddy)(Neighborhood.buddyOnce(_, buddyCfg))
        assert(labels(out) === before, name)
      }
  }

  test("iterate's observed round counts stop it where a count() loop stops") {
    val df = statsInput(400)
    val buddyCfg = CascadeConfig(buddyParams = Seq(BuddyParams(2, 0.5)))
    def labels(d: DataFrame) =
      d.select(Cols.UrlHash, Cols.Dqc).collect().map(r => r.getLong(0) -> r.get(1)).toMap
    // the same convergence rule driven by a separate count per round
    var cur = df
    var prev = 0L
    var rounds = 0
    var converged = false
    while (rounds < 10 && !converged) {
      cur = Neighborhood.buddyOnce(cur, buddyCfg).localCheckpoint(true)
      val flagged = cur.filter(col(Cols.Dqc) === FlagCodes.Buddy).count()
      converged = flagged - prev <= 0
      prev = flagged
      rounds += 1
    }
    assert(rounds > 1 && prev > 0, "the fixture must iterate")
    val iter = Cascade.iterate(df, 10, 0L, FlagCodes.Buddy)(Neighborhood.buddyOnce(_, buddyCfg))
    assert(labels(iter) === labels(cur))
  }
}

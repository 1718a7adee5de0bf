package graft

import org.apache.spark.sql.functions._
import graft.model.{BuddyParams, CascadeConfig, FlagCodes, SctParams}
import graft.stages.{Cols, Neighborhood}

/** Physical-plan invariants for the neighborhood stats join-backs.
  *
  * The production input of every spatial stage is a localCheckpoint
  * (LogicalRDD), whose size Catalyst cannot estimate statically — so the
  * static plan for "stats table joined back to the corpus" would default to
  * a SortMergeJoin that shuffles the whole corpus by the group key
  * (zipf-skewed on a web corpus). The engine therefore measures the group
  * cardinality at run time and chooses the join form itself
  * (Neighborhood.statsJoinForm): broadcast while the dimension fits, real
  * SMJ + AQE skew split beyond. The broadcast choice must hold in the
  * INITIAL plan, not just the AQE-final one — relying on runtime conversion
  * still materializes the corpus-side probe exchange the static SMJ
  * planned, and was measured propagating a 60 %-of-rows skewed partition
  * into every downstream checkpoint (the round-4 2→8-core scaling deficit).
  * These tests pin both regimes and the result's independence of the form.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  /** Skewed two-domain corpus behind a checkpoint, like a cascade stage
    * input: a LogicalRDD with unknown statistics.
    */
  private def checkpointedCorpus() = {
    val rows = (0 until 3000).map(i => (s"https://big.example/$i", "big.example", "en", i % 97)) ++
      (0 until 50).map(i => (s"https://small.example/$i", "small.example", "en", i % 7))
    rows.toDF("url", "domain", "lang", Cols.NWords)
      .withColumn(Cols.Dqc, lit(null).cast("int"))
      .withColumn(Cols.Doit, lit(1))
      .withColumn(Cols.Prio, lit(0))
      .withColumn(Cols.UrlHash, xxhash64(col("url")))
      .localCheckpoint(true)
  }

  /** (finalPlan, initialPlan) strings of the executed AQE plan. */
  private def executedPlanStrings(df: org.apache.spark.sql.DataFrame): (String, String) = {
    // collect() drives THIS DataFrame's queryExecution (count() would build a
    // derived aggregate plan and leave this one's AQE at isFinalPlan=false)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), s"AQE did not finalize:\n$plan")
    // the AdaptiveSparkPlan string carries BOTH the final and the initial
    // (pre-runtime-replanning) trees; only the final one executes, but the
    // initial one decides which exchanges get materialized along the way
    val parts = plan.split("== Initial Plan ==")
    (parts(0), if (parts.length > 1) parts(1) else parts(0))
  }

  test("capped groupStats join-back is a STATIC broadcast (no corpus-wide SMJ, " +
       "no probe-side exchange planned)") {
    val cfg = CascadeConfig(
      enabled = Set(FlagCodes.Buddy),
      blacklistDomains = Set.empty, keepDomains = Set.empty,
      buddyParams = Seq(BuddyParams(5, 4.0)),
      maxRefsPerGroup = Some(1000))
    val (fin, init) = executedPlanStrings(Neighborhood.buddyOnce(checkpointedCorpus(), cfg))
    assert(fin.contains("BroadcastHashJoin"),
      s"stats join-back should be broadcast:\n$fin")
    assert(!fin.contains("SortMergeJoin"),
      s"corpus must not be shuffled by the skewed group key:\n$fin")
    // the load-bearing half: the join must be broadcast BEFORE runtime
    // replanning, or the corpus-side exchange is still written to disk
    assert(init.contains("BroadcastHashJoin") && !init.contains("SortMergeJoin"),
      s"join form must be chosen statically from the measured cardinality:\n$init")
  }

  test("sct fused stats join-back is a static broadcast") {
    val cfg = CascadeConfig(
      enabled = Set(FlagCodes.Sct),
      blacklistDomains = Set.empty, keepDomains = Set.empty,
      sctParams = Seq(SctParams(5, 4.0)))
    val (fin, init) = executedPlanStrings(Neighborhood.sctOnce(checkpointedCorpus(), cfg))
    assert(fin.contains("BroadcastHashJoin"),
      s"order-stats join-backs should be broadcast:\n$fin")
    assert(!fin.contains("SortMergeJoin"),
      s"corpus must not be shuffled by the skewed group key:\n$fin")
    assert(init.contains("BroadcastHashJoin") && !init.contains("SortMergeJoin"),
      s"join form must be chosen statically from the measured cardinality:\n$init")
  }

  test("web-scale regime keeps a real SMJ, and the flags are form-invariant") {
    val base = CascadeConfig(
      enabled = Set(FlagCodes.Buddy),
      blacklistDomains = Set.empty, keepDomains = Set.empty,
      buddyParams = Seq(BuddyParams(5, 4.0)),
      maxRefsPerGroup = Some(1000))
    val corpus = checkpointedCorpus()
    val smjCfg = base.copy(statsBroadcastMaxGroups = 0L) // dimension "too big"
    val (_, init) = executedPlanStrings(Neighborhood.buddyOnce(corpus, smjCfg))
    // the STATIC plan must be sort-merge (no broadcast hint). At this toy
    // scale AQE still converts the 22-row table at runtime — the conversion
    // is impossible at the 10⁷⁺-group cardinality the regime models, where
    // the stats side is far above the auto-broadcast threshold.
    assert(init.contains("SortMergeJoin"),
      s"above the broadcast bound the static join must stay sort-merge:\n$init")
    // identical labels under both physical forms
    val a = Neighborhood.buddyOnce(corpus, base)
      .select("url", Cols.Dqc).collect().map(r => r.getString(0) -> r.get(1)).toMap
    val b = Neighborhood.buddyOnce(corpus, smjCfg)
      .select("url", Cols.Dqc).collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(a == b, "join form changed the flags")
  }

  test("groupStats aggregates once, combined map-side: one exchange on the " +
       "group keys, over a partial HashAggregate") {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def below(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => below(w.child)
      case i: InputAdapter => below(i.child)
      case other => other
    }
    val corpus = checkpointedCorpus()
    for (cfg <- Seq(CascadeConfig(maxRefsPerGroup = Some(1000)), CascadeConfig())) {
      val plans = executedPlans(Neighborhood.groupStats(corpus, col(Cols.NWords), cfg))
      val exchanges = plans.flatMap(PlanNodes.of).collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size === 1, s"one aggregation exchange expected:\n${plans.mkString("\n")}")
      val e = exchanges.head
      val partKeys = e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.references.map(_.name).toSet
        case other => fail(s"expected a hash exchange:\n$other")
      }
      assert(partKeys === Set(Cols.Domain), s"partitioned on the group key alone:\n$e")
      below(e.child) match {
        case a: HashAggregateExec =>
          assert(a.aggregateExpressions.nonEmpty && a.aggregateExpressions.forall(_.mode == Partial),
            s"map-side aggregation must be partial:\n$a")
        case other => fail(s"no partial HashAggregate below the exchange:\n$other")
      }
    }
  }

  test("each near-dup self-join shuffles its bucket frame once, and simhash " +
       "joins nothing after it") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.operators.{Dedup, Similarity}
    def hashKeys(p: SparkPlan): Set[String] = p.outputPartitioning match {
      case h: HashPartitioning => h.references.map(_.name).toSet
      case _ => Set.empty
    }
    // spread over several partitions, as a corpus is: a one-partition input
    // satisfies any distribution and would plan no exchange at all
    val docs = graft.io.Docs.read(spark, sfDir).repartition(4)
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet").repartition(4)
    val ops: Seq[(String, () => DataFrame, Set[String])] = Seq(
      ("ngramJaccard", () => Dedup.ngramJaccard(docs, "text", "doc_id", threshold = 0.2),
        Set("shingle")),
      ("minhashLsh", () => Dedup.minhashLsh(docs, "text", "doc_id"), Set("band", "bkey")),
      ("simhashPairs64", () => Dedup.simhashPairs64(docs, "text", "doc_id"),
        Set("band", "bkey")),
      ("annPairs", () => Similarity.annPairs(vecs, "embedding", "vec_id", threshold = 0.25),
        Set("bucket")))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1") // the sort-merge regime: each join side is an exchange
    try for ((name, op, bucket) <- ops) {
      val df = op()
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("isFinalPlan=true"), s"$name: AQE did not finalize:\n$plan")
      val shuffles = PlanNodes.collect(plan) { case e: ShuffleExchangeExec if hashKeys(e) == bucket => e }
      val reused = PlanNodes.collect(plan) { case r: ReusedExchangeExec if hashKeys(r.child) == bucket => r }
      assert(shuffles.size === 1 && reused.size === 1,
        s"$name: one bucket exchange, the other self-join side reusing it:\n$plan")
      if (name == "simhashPairs64")
        assert(PlanNodes.collect(plan) { case j: SortMergeJoinExec => j }.size === 1,
          s"the hamming confirm reads the pair row, not a join back:\n$plan")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the vector and shingle operators run no higher-order function, and " +
       "their native kernels run inside whole-stage codegen") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayTransform, Expression, ZipWith}
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import graft.functions.{DotExpr, LshBucketExpr, ShinglesExpr}
    import graft.operators.{Dedup, Similarity}
    def exprs(p: SparkPlan): Seq[Expression] = p.expressions.flatMap(_.collect { case e => e })
    val docs = graft.io.Docs.read(spark, sfDir)
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ops = Seq(
      "annPairs" -> (() => Similarity.annPairs(vecs, "embedding", "vec_id", threshold = 0.25)),
      "ivfTopK" -> (() => Similarity.ivfTopK(vecs, "embedding", "vec_id", Seq(0L, 1L), k = 5)),
      "cosineTopK" -> (() => Similarity.cosineTopK(vecs, "embedding", "vec_id", Seq(0L), k = 5)),
      "ngramJaccard" -> (() => Dedup.ngramJaccard(docs, "text", "doc_id", threshold = 0.2)),
      "minhashLsh" -> (() => Dedup.minhashLsh(docs, "text", "doc_id")))
    for ((name, op) <- ops) {
      val plans = executedPlans(op().collect())
      val nodes = plans.flatMap(PlanNodes.of)
      val hofs = nodes.flatMap(exprs).collect {
        case e @ (_: ArrayAggregate | _: ZipWith | _: ArrayTransform) => e
      }
      assert(hofs.isEmpty, s"$name evaluates higher-order functions:\n${hofs.mkString("\n")}")
      val compiled = nodes.collect { case w: WholeStageCodegenExec => w }
        .flatMap(w => w.child.collect { case n => n }).flatMap(exprs).collect {
          case e @ (_: DotExpr | _: LshBucketExpr | _: ShinglesExpr) => e
        }
      assert(compiled.nonEmpty, s"$name: no native kernel inside whole-stage codegen:\n" +
        plans.mkString("\n"))
    }
  }

  test("the cascade's row-local prefix plans no exchange, and no exchange of " +
       "the ingest duplicate drop carries text or html") {
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
    import graft.cascade.Cascade
    import graft.io.PagesGen
    import graft.stages.Ingest
    val s = spark.sparkContext.defaultParallelism
    val pages = PagesGen.generate(spark, 600L)
    def exchanges(plans: Seq[SparkPlan]) =
      plans.flatMap(PlanNodes.of).collect { case e: Exchange => e }
    def carried(e: Exchange) = e.output.map(_.name).toSet
    def isSpread(e: Exchange) = e.outputPartitioning match {
      case h: HashPartitioning => h.references.exists(_.name == "_graft_rid")
      case _ => false
    }
    for (input <- Seq(pages.coalesce(1), pages.repartition(2 * s).localCheckpoint(true))) {
      val plans = executedPlans(Cascade.run(input, Fixture.cfg).collect())
      // the prefix is the one plan that scrubs the text
      val prefix = plans.filter(p => PlanNodes.of(p).exists {
        case pr: ProjectExec => pr.projectList.exists {
          case a: Alias => a.name == Cols.ScrubbedText
          case _ => false
        }
        case _ => false
      })
      assert(prefix.size === 1, s"one prefix execution expected:\n${plans.mkString("\n")}")
      assert(!prefix.head.isInstanceOf[AdaptiveSparkPlanExec] && exchanges(prefix).isEmpty,
        s"the prefix plan has an exchange:\n${prefix.head}")
      val all = exchanges(plans)
      assert(!all.exists(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning]))
      val dedup = all.filter(e => carried(e).contains(Ingest.Fp) && !isSpread(e))
      assert(dedup.nonEmpty, "the ingest duplicate drop ran no exchange")
      dedup.foreach(e => assert((carried(e) & Set(Cols.Text, Cols.Html)).isEmpty,
        s"a dedup exchange carries the payload:\n$e"))
    }
    // the public composed form, over the plain normalized frame
    val alone = exchanges(executedPlans(
      Ingest.dropDuplicatePages(Ingest.normalize(pages, Fixture.cfg)).collect()))
    assert(alone.nonEmpty && alone.forall(e => (carried(e) & Set(Cols.Text, Cols.Html)).isEmpty),
      s"dropDuplicatePages moves the payload through an exchange:\n${alone.mkString("\n")}")
  }
}

package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{BuddyParams, CascadeConfig, FlagCodes, SctParams}

/** The neighborhood ("buddy"/SCT) check family — TITAN's core
  * (SURVEY.md §2.4). A document's neighborhood is its registered domain
  * (the provider analog); each check compares a per-document statistic
  * against an aggregate of its *alive* neighbors, excluding itself
  * (leave-one-out, like the reference kernel's self-exclusion in
  * /root/reference/functions/misc/statistics_util.r:15-98).
  *
  * Scale design — deliberately NOT `Window.partitionBy(domain)`:
  * neighborhood statistics are one `groupBy(domain)` of (sum, sumsq,
  * count), joined back with an equi-join whose physical form is chosen
  * from the MEASURED group cardinality ([[statsJoinForm]]): broadcast while
  * the dimension fits (no corpus shuffle at all), genuine sort-merge + AQE
  * skew split at the 10⁷–10⁸-domain scale where broadcast is impossible.
  * The aggregates combine map-side (partial HashAggregate), so a giant host
  * domain (50% of a 100 TB corpus on one key) reaches its reducer as one
  * partial row per map task, never as rows on a single reducer, which
  * `Window.partitionBy(domain)` would force. Leave-one-out aggregates are
  * recovered algebraically from (sum, sumsq, count), so no per-row window
  * pass is ever needed.
  *
  * All sums are over integer features (exact in both Spark and the DuckDB
  * oracle); doubles appear only in the final z-score arithmetic, with the
  * operation order fixed so both engines produce bit-identical IEEE values.
  *
  * Buddy, sct and sct_dual run through one driver, [[spatialRounds]]: one
  * pass per configuration of the check's `*Params` list and per priority
  * class. Each check supplies only its round.
  */
object Neighborhood {
  import Cols._

  /** Exact per-domain (sum, sumsq, count) of `x` (an integral column) over
    * reference-eligible rows, via one map-side-combined aggregation.
    *
    * `cfg.maxRefsPerGroup` (the reference's neighbor cap, `num_max_outer`,
    * /root/reference/functions/checks/buddy.r:46,154-167) bounds how many
    * rows a giant group contributes to its own statistics: when some group
    * exceeds the cap, a per-group deterministic hash-sampling rate
    * min(1, cap/n) thins it, so a 10M-doc host is judged against a
    * fixed-size, reproducible subsample instead of all 10M rows.
    *
    * ONE aggregation over the eligible rows yields the stats (_s,_q,_n)
    * AND the pre-cap group sizes (_gn); the max _gn, observed by the action
    * that checkpoints the group-sized result, decides whether any group
    * binds the cap. An unset cap never binds, and neither does a cap above
    * the largest group (every oracle SF, and any corpus whose largest host
    * sits under it): `inSampleCond` is then vacuously true and the fused
    * frame is the exact answer. Only when the cap binds does the sampling
    * pass run, reusing the counts already in hand.
    */
  def groupStats(df: DataFrame, x: Column, cfg: CascadeConfig,
                 refFilter: Column = Stage.referenceEligible,
                 keys: Seq[String] = Seq(Domain)): DataFrame = {
    val keyCols = keys.map(col)
    // ONE pass: stats and pre-cap group sizes from the same aggregation
    // (x may be null on an eligible row — _n counts non-null x only, _gn
    // counts every eligible row)
    val xl = x.cast("long")
    // one driver action checkpoints the stats and measures the group
    // cardinality (drives the join form) AND the largest group
    val (fused, m) = graft.cascade.Cascade.labeled(df.sparkSession.sparkContext,
      s"stats: fused agg+ckpt (${keys.mkString(",")})")(
      graft.cascade.Cascade.materializeMeasured(
        df.filter(refFilter).groupBy(keyCols: _*)
          .agg(sum(xl).as("_s"), sum(xl * xl).as("_q"),
            count(xl).as("_n"), count(lit(1)).as("_gn")),
        count(lit(1)).as("groups"), max("_gn").as("max_gn")))
    val nGroups = m.getLong(0)
    val maxGn = if (nGroups == 0 || m.isNullAt(1)) 0L else m.getLong(1)
    // _n == 0 groups (no reference-eligible row left in the frame, or only
    // eligible rows whose x is null) are dropped: the left join back yields
    // nulls for them, which every consumer's null-guarded math treats
    // exactly like a present-but-empty stats row — and keeping them would
    // let the broadcast table outgrow the measured eligible-group
    // cardinality that statsJoinForm's driver-OOM guard is based on
    cfg.maxRefsPerGroup.filter(maxGn > _) match {
      case None =>
        // no group binds the cap: the unsampled stats ARE the capped stats,
        // and _gn (carried so consumers can re-derive per-row sample
        // membership for the LOO terms) rides along for free
        statsJoinForm(fused.filter(col("_n") > 0), nGroups, cfg)
      case Some(cap) =>
        // the cap binds somewhere: deterministic proportional thinning —
        // keep row iff its url hash falls under cap/n of the hash space
        // (exact at any parallelism) — reusing the counts already in hand
        val capReady = statsJoinForm(fused.select(keyCols :+ col("_gn"): _*),
          nGroups, cfg)
        val sampled = df.join(capReady, keys, "left")
          .filter(col("_gn").isNull || inSampleCond(cap, col("_gn")))
          .drop("_gn")
        val xe = when(refFilter, xl)
        val merged = sampled.groupBy(keyCols: _*)
          .agg(sum(xe).as("_s"), sum(xe * xe).as("_q"), count(xe).as("_n"))
          .filter(col("_n") > 0)
        statsJoinForm(merged.join(capReady, keys, "left"), nGroups, cfg)
    }
  }

  /** Choose the physical form of a per-group stats table's join against the
    * corpus, from its MEASURED cardinality — instead of leaving the choice
    * to the optimizer, which cannot know it statically (the table sits
    * behind an aggregation over a checkpoint of unknown size) and whose
    * adaptive fallback has a pathological failure mode here. Measured on
    * the 4M-doc scaling corpus (event logs, local[2]/local[8]): AQE's
    * mid-flight SortMergeJoin→BroadcastHashJoin conversion first
    * materializes the probe-side exchange — a full corpus shuffle WRITE per
    * stats join, hash-partitioned on the zipf-skewed group key — and then
    * sometimes reads it reduce-side instead of map-locally, baking a
    * 60 %-of-rows partition into the materialized stage and EVERY
    * downstream checkpoint that inherits its partitioning (all local-read
    * map-side stages preserve layout). The result was two buddy-iteration
    * jobs bound by a single 54.5 s straggler task each — invisible at 2
    * cores (everything queues anyway), the entire scaling deficit at 8+.
    *
    * With the cardinality in hand the choice is static and safe in both
    * regimes: at or below [[CascadeConfig.statsBroadcastMaxGroups]] the
    * stats side is broadcast — the corpus side then has NO exchange at all
    * (no shuffle write, no skew, layout inherited from the balanced scan);
    * above it (10⁷–10⁸ registered domains at 100 TB) the join stays a real
    * SMJ, which AQE's skew split (GraftSession: 32 MB threshold) splits
    * into advisory-sized chunks — balanced again, and no mid-flight
    * conversion can occur because the stats side is far above the
    * auto-broadcast threshold. Reference analog: the reference holds its
    * station metadata in memory per provider (read_data_to_check.r) — the
    * broadcast regime — while this engine must also survive the regime
    * where the dimension itself is distributed.
    */
  private[stages] def statsJoinForm(stats: DataFrame, nGroups: Long,
                                    cfg: CascadeConfig): DataFrame =
    if (nGroups <= cfg.statsBroadcastMaxGroups) broadcast(stats)
    else sizeDiscovered(stats)

  /** [[statsJoinForm]] for a stats frame whose cardinality is not yet
    * known: checkpoint it, counting its rows in the same action. The
    * checkpoint blocks are registered while the enclosing stage builds, so
    * the cascade run's sweep releases them with the stage's own
    * materialization.
    */
  private[stages] def joinReady(stats: DataFrame, cfg: CascadeConfig): DataFrame = {
    val (ck, m) = graft.cascade.Cascade.labeled(stats.sparkSession.sparkContext,
      "stats: ckpt+count")(
      graft.cascade.Cascade.materializeMeasured(stats, count(lit(1)).as("groups")))
    statsJoinForm(ck, m.getLong(0), cfg)
  }

  /** SMJ-regime half of [[statsJoinForm]]: materialize the stats table as
    * its own round-robin shuffle stage so AQE sees its true size and
    * shape. Kept for the web-scale branch only — the broadcast regime is
    * now chosen statically from the measured cardinality, because relying
    * on AQE's runtime conversion here was actively harmful (it still
    * materialized the corpus-side probe exchange it had planned for the
    * SMJ — a full corpus shuffle write per stats join, hash-partitioned on
    * the zipf-skewed group key — and could then read it reduce-side,
    * propagating a 60 %-of-rows partition into every downstream
    * checkpoint; see statsJoinForm). Round-robin, NOT repartition(keys):
    * the subtree is typically already hash(keys)-partitioned, so a
    * same-key repartition is elided as redundant by Catalyst and discovers
    * nothing (measured: the hash form left the plan unchanged).
    */
  private[stages] def sizeDiscovered(stats: DataFrame): DataFrame =
    stats.repartition(
      stats.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt)

  private val SampleMod = 1000000L

  /** Deterministic membership test for the neighbor-cap subsample: a pure
    * function of (url, group size, cap), identical wherever re-evaluated.
    */
  def inSampleCond(cap: Int, gn: Column): Column =
    gn <= cap ||
      pmod(xxhash64(col(UrlHash), lit("refcap")), lit(SampleMod)) * gn < lit(cap.toLong) * lit(SampleMod)

  /** Per-row "my own value is inside the group statistics" indicator: false
    * where the row's group has no stats row (null `_gn`, e.g. a null key);
    * otherwise the cap's sample membership, which an unset cap (one that
    * never binds) grants every row.
    */
  private def selfInSample(cfg: CascadeConfig): Column =
    coalesce(cfg.maxRefsPerGroup.fold(col("_gn") > 0)(inSampleCond(_, col("_gn"))), lit(false))

  private def dropStatCols(df: DataFrame, names: String*): DataFrame =
    df.drop(names :+ "_gn": _*)

  /** The skeleton of the reference's spatial drivers, written once: the
    * multi-test-configuration loop (the `j` loop, buddy.r:101; fgt.r:257-267;
    * ini pairs test/ini/rr1_buddy.ini:16-20) folds `params` in order, each
    * configuration seeing the flags the previous one stamped; inside each
    * configuration the priority rounds (buddy.r:112-155) run over the
    * descending priority classes. A round's references (`refFilter`) are
    * alive rows with prio >= the class, and its checked rows (`inClass`) are
    * the class itself. With no priorities configured each configuration is
    * a single round over everything.
    */
  private def spatialRounds[P](df: DataFrame, cfg: CascadeConfig, params: Seq[P])(
      round: (DataFrame, P, Column, Column) => DataFrame): DataFrame = {
    val classes = (cfg.priorities.values.toSet + 0).toSeq.sorted(Ordering[Int].reverse)
    params.zipWithIndex.foldLeft(df) { case (d, (p, i)) =>
      // materialize between configurations: each round's stats pass scans
      // its input twice, and folding rounds over a lazy plan compounds
      val in = if (i == 0) d else graft.cascade.Cascade.materialize(d)
      if (classes.size == 1) round(in, p, Stage.referenceEligible, lit(true))
      else classes.foldLeft(in)((dc, c) =>
        round(dc, p, Stage.referenceEligible && col(Prio) >= c, col(Prio) === c))
    }
  }

  /** Buddy check (code 10). Reference: functions/checks/buddy.r — each
    * checked observation vs mean ± sd of its neighbors; here the per-doc
    * word count vs its domain's leave-one-out mean/sd. The titanlib-kernel
    * math (neighbors' mean/sd, self excluded) is spelled out in the legacy
    * in-repo kernel statistics_util.r:15-98. One pass per configuration in
    * `cfg.buddyParams` and priority class ([[spatialRounds]]).
    */
  def buddyOnce(df: DataFrame, cfg: CascadeConfig): DataFrame =
    spatialRounds(df, cfg, cfg.buddyParams)(buddyRound(_, cfg, _, _, _))

  private def buddyRound(df: DataFrame, cfg: CascadeConfig, params: BuddyParams,
                         refFilter: Column, inClass: Column): DataFrame = {
    // stats table: one row per buddy-key group; join form chosen from the
    // measured cardinality inside groupStats (statsJoinForm) — broadcast
    // while it fits, genuine SMJ + AQE skew split at the 10⁷–10⁸-domain
    // scale where an unconditional broadcast would OOM the driver.
    // optional variance-stabilizing transform before the z test: word-count
    // distributions are heavy-tailed like the reference's precipitation, and
    // the reference boxcoxes values before its gaussian checks
    // (misc/statistics_util.r:101-107 used in checks/buddy.r:87-93). A
    // fixed-point log1p (×1000, rounded) keeps the statistic integral so the
    // exact integer aggregation applies unchanged.
    val xv: Column =
      if (cfg.buddyLog1p) round(log1p(col(NWords).cast("double")) * 1000.0).cast("long")
      else col(NWords).cast("long")
    val stats = groupStats(df, xv, cfg, refFilter, keys = cfg.buddyKeys)
    val joined = df.join(stats, cfg.buddyKeys, "left")

    val x = xv
    val (minN, zThresh) = (lit(params.minN), lit(params.z))
    // only subtract self if self was sampled into the group statistics
    // (otherwise the LOO algebra double-corrects)
    val selfIn = selfInSample(cfg)
    val xs = when(selfIn, x).otherwise(lit(0L))
    val ns = when(selfIn, lit(1L)).otherwise(lit(0L))
    val m    = (col("_n") - ns).cast("double")           // leave-one-out count
    val mean = when(m > 0, (col("_s") - xs).cast("double") / m)
    val vr   = when(m > 1,
      ((col("_q") - xs * xs).cast("double") - m * mean * mean) / (m - 1.0))
    val looSd = sqrt(greatest(vr, lit(0.0)))
    // σ floor (see CascadeConfig.buddySdFloor); applied after the LOO sd so
    // a near-degenerate group can't manufacture z from noise
    val sd   = if (cfg.buddySdFloor > 0) greatest(looSd, lit(cfg.buddySdFloor)) else looSd
    val looN = (col("_n") - ns).cast("int")
    val z = when(sd > 0, (x.cast("double") - mean) / sd)

    val fail = inClass &&
      looN >= minN && sd > 0.0 && abs(z) > zThresh
    dropStatCols(
      Stage.sticky(joined, fail, FlagCodes.Buddy, flagsKeep = false),
      "_s", "_q", "_n")
  }

  /** SCT-resistant analog (code 1): robust z-score — the doc's deviation
    * from its neighborhood's *leave-one-out* median, in MAD units
    * ("resistant" = robust estimators, the spirit of the reference's
    * resistant elaborations, functions/checks/sct_resistant.r:158-204;
    * self-exclusion as in the kernel statistics_util.r:15-98).
    *
    * The LOO median needs only the three central order statistics
    * m0,m1,m2 (ranks L,L+1,L+2, L = floor((n-2)/2)) of the alive group:
    * removing one value x from n sorted values leaves medians
    *   n even: m1 if x ≤ m0 else m0
    *   n odd : (m1+m2)/2 if x ≤ m0; (m0+m1)/2 if x ≥ m2; else (m0+m2)/2
    * The MAD is the interpolated median of |x − popMedian| over alive rows
    * (population median = (v[⌊(n−1)/2⌋]+v[⌊n/2⌋])/2, derived from the same
    * statistics). All arithmetic stays on half-integers — exact in IEEE
    * doubles — so the DuckDB oracle matches bit-for-bit. No broadcast
    * hints and no window: two histogram aggregations plus equi-joins.
    */
  def sctOnce(df: DataFrame, cfg: CascadeConfig): DataFrame =
    spatialRounds(df, cfg, cfg.sctParams)(sctRound(_, cfg, _, _, _))

  private def sctRound(df: DataFrame, cfg: CascadeConfig, params: SctParams,
                       alive: Column, inClass: Column): DataFrame = {
    // ONE fused stats pass: the value order statistics AND the deviation
    // MAD come out of a single histogram aggregation ([[sctStats]]), so the
    // round costs one corpus scan, one checkpoint+count, one join — the
    // reference likewise computes all of a round's elaborations in one
    // kernel call (sct_resistant.r:158-188). The previous two-pass shape
    // (order stats, join, deviation order stats over the joined corpus,
    // second join) doubled the stats scans and its second histogram was a
    // full corpus aggregation.
    val os = joinReady(sctStats(df, Seq(Domain), col(NWords), alive), cfg)
    val joined = df.join(os, Seq(Domain), "left")

    val x  = col(NWords).cast("long")
    val n  = col("_n")
    val m0 = col("_m0"); val m1 = col("_m1"); val m2 = col("_m2")
    def half(a: Column, b: Column): Column = (a + b).cast("double") / 2.0
    val even = pmod(n, lit(2)) === 0
    // leave-one-out median of the alive group, per checked row
    val looMed = when(even, when(x <= m0, m1.cast("double")).otherwise(m0.cast("double")))
      .otherwise(
        when(x <= m0, half(m1, m2))
          .when(x >= m2, half(m0, m1))
          .otherwise(half(m0, m2)))

    val dev  = abs(x.cast("double") - looMed)
    val z    = when(col("_mad") > 0, dev / (lit(1.4826) * col("_mad")))
    val fail = inClass && (n - 1) >= params.minN && col("_mad") > 0.0 && z > params.z
    Stage.sticky(joined, fail, FlagCodes.Sct, flagsKeep = false)
      .drop("_m0", "_m1", "_m2", "_n", "_mad")
  }

  /** Fused sct statistics: per group, the three central value order
    * statistics (_m0,_m1,_m2 at 0-based ranks L,L+1,L+2, L = ⌊(n−2)/2⌋),
    * the alive count _n, AND the MAD (_mad) — all from ONE (keys, value)
    * histogram aggregation. The deviation multiset {|2v − 2·popMedian|}
    * needed for the MAD is derived from the SAME per-group histogram (each
    * distinct value v with count c contributes deviation |2v − popSum| with
    * count c), re-sorted and rank-walked as array expressions — no second
    * corpus scan, no second join. All arithmetic stays on longs until the
    * final /4.0, so the result is bit-identical to the two-pass form (and
    * to the DuckDB oracle). Per-group state is bounded by the number of
    * DISTINCT values (word counts: ~10⁴), never by row count — unlike
    * Spark's exact `percentile`, whose buffer grows with the group.
    */
  private[stages] def sctStats(df: DataFrame, keys: Seq[String], x: Column,
                               alive: Column): DataFrame = {
    val keyCols = keys.map(col)
    val v = when(alive, x.cast("long"))
    val hist = df.groupBy(keyCols :+ v.as("_v"): _*).agg(count(v).as("_c"))
      .filter(col("_c") > 0)
    val g = hist.groupBy(keyCols: _*).agg(
      sort_array(collect_list(struct(col("_v"), col("_c")))).as("_h"),
      sum("_c").as("_n"))
    val rank0 = floor((col("_n") - lit(2)).cast("double") / 2.0).cast("long")
    def walk3(arr: Column, vField: String, cField: String) =
      aggregate(arr,
        struct(lit(0L).as("cum"),
          lit(null).cast("long").as("m0"),
          lit(null).cast("long").as("m1"),
          lit(null).cast("long").as("m2")),
        (acc, e) => {
          val cum2 = acc.getField("cum") + e.getField(cField)
          def pick(cur: Column, rk: Column) =
            when(cur.isNull && cum2 > rk, e.getField(vField)).otherwise(cur)
          struct(cum2.as("cum"),
            pick(acc.getField("m0"), rank0).as("m0"),
            pick(acc.getField("m1"), rank0 + 1).as("m1"),
            pick(acc.getField("m2"), rank0 + 2).as("m2"))
        })
    val even = pmod(col("_n"), lit(2)) === 0
    // Each walk is aliased into its own projection layer so it evaluates
    // ONCE per group: a higher-order-function expression referenced from
    // several output columns — or worse, from inside a downstream lambda —
    // is re-evaluated per reference (per ELEMENT, for a lambda capture;
    // lambda expressions get no codegen CSE, the RepetitionExpr lesson),
    // turning the walk quadratic in distinct-value count. CollapseProject
    // keeps the layers separate exactly because the aliases are non-cheap
    // and multiply-referenced.
    val g1 = g.select(keyCols ++ Seq(col("_h"), col("_n"),
      walk3(col("_h"), "_v", "_c").as("_w")): _*)
    // 2·popMedian (quantile_cont ranks ⌊(n−1)/2⌋,⌊n/2⌋ = (m0,m1) even /
    // (m1,m1) odd), integral by construction
    val popSum = when(even,
      col("_w.m0") + col("_w.m1")).otherwise(col("_w.m1") + col("_w.m1"))
    val g2 = g1.select(keyCols ++ Seq(col("_h"), col("_n"), col("_w"),
      popSum.as("_ps")): _*)
    // deviation histogram from the value histogram: |2v − popSum| keeps the
    // arithmetic integral; struct sort on (_d,_c) orders by deviation (the
    // intra-deviation count order is irrelevant to a cumulative rank walk)
    val devs = sort_array(transform(col("_h"), e =>
      struct(abs(e.getField("_v") * 2 - col("_ps")).as("_d"), e.getField("_c").as("_c"))))
    val g3 = g2.select(keyCols ++ Seq(col("_n"), col("_w"),
      walk3(devs, "_d", "_c").as("_dw")): _*)
    val madSum = when(even,
      col("_dw.m0") + col("_dw.m1")).otherwise(col("_dw.m1") + col("_dw.m1"))
    g3.select(keyCols ++ Seq(
      col("_w.m0").as("_m0"),
      col("_w.m1").as("_m1"),
      col("_w.m2").as("_m2"),
      col("_n").as("_n"),
      madSum.cast("double").divide(lit(4.0)).as("_mad")): _*)
  }

  /** sct_dual analog (code 3): a *binary* attribute per doc (here: "long
    * doc", word count > threshold) checked against the leave-one-out event
    * fraction among domain buddies — the reference's dichotomous check
    * (functions/checks/sct_dual_r.r:112-130; event-fraction kernel
    * statistics_util.r:77-94). Flag when the doc disagrees with a
    * near-unanimous neighborhood.
    */
  def dualOnce(df: DataFrame, cfg: CascadeConfig): DataFrame =
    spatialRounds(df, cfg, cfg.dualParams) { (d, p, refFilter, inClass) =>
      eventFractionCheck(d, (col(NWords) > p.eventWords).cast("int"), cfg,
        p.minN, p.loFrac, p.hiFrac, FlagCodes.SctDual, refFilter, inClass)
    }

  /** The leave-one-out event-fraction check shared by sct_dual (code 3)
    * and sct_fg_dual (code 4): per domain, the fraction of reference rows
    * whose binary `event` is 1, the row itself excluded (event-fraction
    * kernel statistics_util.r:77-94). A checked row fails when at least
    * `minN` neighbors remain and it disagrees with a near-unanimous
    * neighborhood: no event under frac >= hiFrac, or an event under
    * frac <= loFrac. The join form follows the measured domain cardinality
    * inside [[groupStats]] ([[statsJoinForm]]).
    */
  private[stages] def eventFractionCheck(df: DataFrame, event: Column, cfg: CascadeConfig,
      minN: Int, loFrac: Double, hiFrac: Double, code: Int,
      refFilter: Column = Stage.referenceEligible,
      inClass: Column = lit(true)): DataFrame = {
    val stats = groupStats(df.withColumn("_ev", event), col("_ev"), cfg, refFilter)
      .withColumnRenamed("_s", "_evs").withColumnRenamed("_n", "_evn").drop("_q")
    val joined = df.withColumn("_ev", event).join(stats, Seq(Domain), "left")

    val selfIn = selfInSample(cfg)
    val evs  = when(selfIn, col("_ev").cast("long")).otherwise(lit(0L))
    val ns   = when(selfIn, lit(1L)).otherwise(lit(0L))
    val nn   = (col("_evn") - ns).cast("double")
    val frac = when(nn > 0, (col("_evs") - evs).cast("double") / nn)
    val fail = inClass && (col("_evn") - ns) >= minN &&
      ((frac >= hiFrac && col("_ev") === 0) ||
       (frac <= loFrac && col("_ev") === 1))
    dropStatCols(
      Stage.sticky(joined, fail, code, flagsKeep = false),
      "_ev", "_evs", "_evn")
  }

  /** Isolation check (code 800): a doc whose domain has too few alive
    * buddies cannot be consistency-checked — flag it low-confidence.
    * Reference: titanlib isolation_check(n=10, dr=25 km)
    * (functions/checks/isolation.r:25-28; count-in-box kernel
    * statistics_util.r:2-12). Leave-one-out: the doc itself doesn't count.
    */
  def isolationOnce(df: DataFrame, cfg: CascadeConfig): DataFrame = {
    val keys = cfg.isolationKeys
    val stats = groupStats(df, lit(1), cfg, keys = keys)
      .select(keys.map(col) ++ Seq(col("_n"), col("_gn")): _*)
    // join form from measured cardinality (statsJoinForm, see buddyRound)
    val joined = df.join(stats, keys, "left")
    val ns = when(selfInSample(cfg), lit(1L)).otherwise(lit(0L))
    val fail = coalesce(col("_n"), lit(0L)) - ns < cfg.isolationMinN
    dropStatCols(
      Stage.sticky(joined, fail, FlagCodes.Isolation, flagsKeep = false),
      "_n")
  }
}

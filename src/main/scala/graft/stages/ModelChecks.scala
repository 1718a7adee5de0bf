package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{CascadeConfig, FlagCodes}
import graft.ml.{LangIdModel, NgramLMModel, Scrubber}

/** Broadcast reference models for the model-based checks — the webtext
  * analog of the reference's "first guess" environment (gridded background
  * fields + DEM loaded once and consulted by several checks,
  * /root/reference/functions/IO/read_fgs.r, titan.r:76-77,172-173).
  * `lms` is an ensemble (TITAN ensemble members, read_fgs.r:78-110); each
  * member carries its own per-language (mean, sd) perplexity background.
  */
final case class Models(
    langId: LangIdModel,
    lms: Seq[NgramLMModel],
    pplStats: Seq[Map[String, (Double, Double)]]) extends Serializable

object Models {
  import graft.ml.{LangId, NgramLM}

  /** Train the full model set from a trusted corpus: a 3-member LM ensemble
    * (different orders/hash seeds — TITAN ensemble members) each with its
    * per-language perplexity background, plus the char-n-gram langid.
    * The training frame is cached for the duration (it is scanned by each
    * member's gram pass and the stats pass), the unigram total is computed
    * once and shared, and all members' perplexity backgrounds come from a
    * single scoring pass.
    */
  /** Model-side pre-clean (the radar-DQC analog: the reference cleans the
    * gridded first-guess fields before any observation is judged against
    * them — a dirty background corrupts every downstream check). Rows that
    * fail cheap structural bounds are excluded from LM / background
    * training so junk documents cannot poison the reference models.
    */
  def preCleanFilter(textCol: String): Column = {
    val st = graft.functions.TextFeatures.textStats(col(textCol))
    col(textCol).isNotNull &&
      graft.functions.TextFeatures.nWordsOf(st) >= 8 &&
      st.getField("nchars") >= 30 &&
      graft.functions.TextFeatures.symbolRatioOf(st) <= 0.3
  }

  def train(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
            textCol: String = "text", langCol: String = "lang",
            preClean: Boolean = true): Models = {
    val source = if (preClean) df.filter(preCleanFilter(textCol)) else df
    val cached = source.select(col(textCol), col(langCol)).persist()
    try {
      val totalUni = NgramLM.totalUnigrams(spark, cached, textCol)
      val lms = Seq(
        NgramLM.train(spark, cached, textCol, order = 3, seed = 17, totalUni = Some(totalUni)),
        NgramLM.train(spark, cached, textCol, order = 3, seed = 101, totalUni = Some(totalUni)),
        NgramLM.train(spark, cached, textCol, order = 2, seed = 7, totalUni = Some(totalUni)))
      val stats = NgramLM.pplStatsAll(spark, cached, textCol, langCol, lms)
      Models(LangId.default, lms, stats)
    } finally cached.unpersist()
  }
}

/** Checks and transforms that consult broadcast models. The model lookups
  * run as one native expression over the broadcast model maps (shipped
  * once per executor, KenLM-style); everything else stays a Catalyst
  * expression.
  */
object ModelChecks {
  import Cols._

  /** Compute detected-language and per-ensemble-member log-perplexity
    * columns once (the reference computes fg values at obs locations once
    * and reuses them across checks, sct_fg_resistant.r:197,227-267).
    */
  /** Broadcast handles memoized per (context, model-set *instance*):
    * re-serializing the multi-MB LM maps on every pipeline construction
    * would put a fixed driver-side cost on each run. Matched by reference
    * (`eq`, not case-class value equality — hashing multi-MB maps on every
    * lookup is itself a cost), and each entry holds a STRONG reference to
    * the keying Models instance: an identity-hash key alone can be reused
    * after the original instance is collected, silently aliasing a stale
    * broadcast to a different model set. Bounded: the oldest entry is
    * unpersisted and evicted when a new instance would exceed the cap.
    */
  private final case class BcEntry(appId: String, models: Models,
      bc: org.apache.spark.broadcast.Broadcast[Models])
  private val bcCache = scala.collection.mutable.ArrayBuffer.empty[BcEntry]
  private val MaxCached = 8

  private def broadcastOf(df: DataFrame, models: Models) = bcCache.synchronized {
    val sc = df.sparkSession.sparkContext
    val appId = sc.applicationId
    bcCache.find(e => e.appId == appId && (e.models eq models)) match {
      case Some(e) => e.bc
      case None =>
        if (bcCache.size >= MaxCached) {
          val evicted = bcCache.remove(0)
          evicted.bc.unpersist(blocking = false)
        }
        val bc = sc.broadcast(models)
        bcCache += BcEntry(appId, models, bc)
        bc
    }
  }

  def withModelFeatures(df: DataFrame, models: Models): DataFrame = {
    // explicit broadcast: the LM count maps are MBs — shipping them once
    // per executor (KenLM-style) instead of inside every stage's task
    // binary is the difference between OK and dead at 1000 executors.
    // ONE native expression computes langid + every ensemble member's
    // perplexity (ModelFeaturesExpr scaladoc): the UTF8String → String
    // decode happens once and is shared by all members, the result struct
    // is written as unboxed InternalRow fields (no CatalystTypeConverter
    // walk, no boxed Double per member per row), and the feature stage
    // stays inside whole-stage codegen. Null text coalesces to "" — detect
    // and tokenHashes treat "" exactly as they treated null in the UDF form.
    val bc = broadcastOf(df, models)
    val nMembers = models.lms.size
    val mf = org.apache.spark.sql.GraftColumns.of(
      graft.functions.ModelFeaturesExpr(
        org.apache.spark.sql.GraftColumns.exprOf(coalesce(col(Text), lit(""))),
        bc, nMembers))
    // two Dataset ops, not 4+n: the expensive expression gets its own
    // layer (each field extraction references the COLUMN, so it evaluates
    // once per row), then every field lands in one projection
    // (Ingest.withCols — a withColumn chain costs one full analyzer pass
    // of the deep cascade prefix per column)
    val withMf = Ingest.withCols(df, Seq("_mf" -> mf))
    Ingest.withCols(withMf, Seq(
      DetLang -> col("_mf.det_lang"),
      DetLangConf -> col("_mf.det_conf")) ++
      (0 until nMembers).map(i => s"$LogPpl$i" -> col(s"_mf.ppl$i")) :+
      (LogPpl -> col(s"_mf.ppl0"))).drop("_mf")
  }

  /** 902 (model form) — declared vs detected language with a confidence
    * margin (analog: station elevation vs DEM,
    * functions/checks/check_z_against_dem.r:18-27).
    */
  def langMismatch(df: DataFrame, cfg: CascadeConfig): DataFrame =
    Stage.sticky(df,
      col(DetLangConf) >= cfg.langMismatchMinConf &&
        col(DetLang) =!= col(Lang) && col(Lang).isNotNull,
      FlagCodes.LangMismatch, flagsKeep = false)

  /** 11 — fgt analog: deviation of doc perplexity from the broadcast
    * background mean beyond z·sd, voted over the LM ensemble with
    * majority ≥ nens/2 (functions/checks/fgt.r:267-289,336-343). Honors the
    * multi-test-configuration loop shared by all four spatial drivers
    * (fgt.r:257-267): each configuration is applied as its own sticky pass,
    * so later configurations see the flags earlier ones stamped.
    */
  def fgt(df: DataFrame, cfg: CascadeConfig, models: Models): DataFrame =
    cfg.fgtParams.foldLeft(df)((d, p) => fgtOnce(d, p, models))

  private def fgtOnce(df: DataFrame, p: graft.model.FgtParams,
                      models: Models): DataFrame = {
    // under the payload split the light frame carries `lang` key-encoded as
    // xxhash64 (Cascade.encodeKeys); hash the per-language literals to match
    // (xxhash64 of a literal constant-folds, so the comparison stays a
    // codegen'd long equality). String frames keep string literals.
    val langEncoded =
      df.schema(Lang).dataType == org.apache.spark.sql.types.LongType
    def langLit(lang: String): Column =
      if (langEncoded) xxhash64(lit(lang)) else lit(lang)
    val votes: Column = models.pplStats.zipWithIndex.map { case (stats, i) =>
      val mean = stats.foldLeft(lit(Double.NaN)) { case (acc, (lang, (m, _))) =>
        when(col(Lang) === langLit(lang), lit(m)).otherwise(acc)
      }
      val sd = stats.foldLeft(lit(Double.NaN)) { case (acc, (lang, (_, s))) =>
        when(col(Lang) === langLit(lang), lit(math.max(s, p.sdFloor))).otherwise(acc)
      }
      when(abs(col(s"$LogPpl$i") - mean) > lit(p.z) * sd, lit(1)).otherwise(lit(0))
    }.reduce(_ + _)
    val majority = (models.lms.size + 1) / 2
    Stage.sticky(df, votes >= majority, FlagCodes.Fgt, flagsKeep = false)
  }

  /** 2 — sct_fg analog: absolute perplexity bound, voted over the full LM
    * ensemble with majority ≥ (nens+1)/2 — the reference votes per ensemble
    * member and flags on the majority (functions/checks/
    * sct_fg_resistant.r:360-367), exactly like `fgt` above.
    */
  def sctFg(df: DataFrame, cfg: CascadeConfig, nMembers: Int = 1): DataFrame = {
    val votes = (0 until math.max(nMembers, 1)).map { i =>
      when(col(s"$LogPpl$i") > cfg.maxLogPpl, lit(1)).otherwise(lit(0))
    }.reduce(_ + _)
    val majority = (math.max(nMembers, 1) + 1) / 2
    Stage.sticky(df, votes >= majority, FlagCodes.SctFg, flagsKeep = false)
  }

  /** 4 — sct_fg_dual analog: reference pseudo-docs are appended with
    * doit=2 (informative but never flaggable — exactly the reference's
    * check-mask-0 pseudo-observations, sct_fg_dual_r.r:173-185), the
    * binary digit-heavy event is judged against the augmented
    * leave-one-out neighborhood fraction, and the pseudo rows are removed.
    */
  def sctFgDual(df: DataFrame, cfg: CascadeConfig, pseudoTexts: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val marked = df.withColumn("_pseudo", lit(false))
    // The pseudo-doc domain dimension: distinct domains with at least one
    // eligible row (a domain with no alive row has nothing flaggable, and
    // its pseudo neighborhood could never be consulted). Group sizes for
    // the neighbor cap are not derived here: groupStats measures them
    // inside its own single stats pass over the unioned frame.
    val domains = graft.cascade.Cascade.materialize(
      df.filter(Stage.referenceEligible).select(col(Domain)).distinct())
    val pseudoBase = domains.crossJoin(
      broadcast(pseudoTexts.zipWithIndex.toDF("_ptext", "_pidx")))
    val pseudo = Ingest.features(
      pseudoBase.select(
        concat(lit("pseudo://"), col(Domain), lit("/"), col("_pidx")).as(Url),
        col(Domain),
        col("_ptext").as(Text)))
      // text was only the feature-pass input; dropping it here keeps the
      // union schema equal to the (payload-split) light schema — otherwise
      // unionByName would re-introduce a null text column into the cascade
      // working set and collide with the payload reattach (Cascade.run)
      .drop(Text)
      // match the caller's lang type: under the payload split the light
      // frame carries lang key-encoded as long (Cascade.encodeKeys), and a
      // string-typed null here would coerce the whole union column back to
      // string. Null semantics are identical either way.
      .withColumn(Lang, lit(null).cast(df.schema(Lang).dataType))
      .withColumn(Doit, lit(2))
      .withColumn(Prio, lit(0))
      .withColumn(Dqc, lit(null).cast("int"))
      .withColumn("_pseudo", lit(true))

    // project the pseudo frame down to the caller's schema: the feature
    // pass derives the full f_* set, but under the payload split the light
    // input carries only the pruned working set — letting unionByName add
    // the pseudo-only columns back (null on every real row) would re-widen
    // every downstream checkpoint/snapshot of the cascade
    val keepCols = marked.columns.toSet
    val aligned = pseudo.select(pseudo.columns.filter(keepCols).map(col): _*)
    val unioned = marked.unionByName(aligned, allowMissingColumns = true)
    // groupStats' fused pass measures the per-domain group sizes (real
    // eligible + pseudo rows — every pseudo row is referenceEligible by
    // construction) inside the one stats aggregation
    Neighborhood.eventFractionCheck(unioned,
      (col(DigitRatio) > cfg.fgDualDigitRatio).cast("int"), cfg,
      cfg.fgDualMinN, cfg.fgDualLoFrac, cfg.fgDualHiFrac, FlagCodes.SctFgDual)
      .filter(!col("_pseudo"))
      .drop("_pseudo")
  }

  /** Backfill + re-check: rows flagged 901 with recoverable html get their
    * text extracted deterministically and their flag restored to null, then
    * the metadata check reruns — exactly the reference's DEM elevation fill
    * between the two metadata rounds (read_dem.r:44-58, titan.r:121,179).
    */
  def backfillAndRecheck(df: DataFrame, cfg: CascadeConfig): DataFrame = {
    // materialize the recoverability predicate BEFORE rewriting text — the
    // flag restore must see the pre-fill state (read_dem.r restores the
    // pre-metadata-check flag for exactly the rows it filled)
    val recoverable = col(Dqc) === FlagCodes.Metadata &&
      col(Html).isNotNull && length(col(Html)) > 0 &&
      (col(Text).isNull || length(trim(col(Text))) === 0)
    // three layers (down from a five-op withColumn chain): the _recov mark,
    // then text+dqc together (both read only the marked frame), then the
    // stats refresh (reads the REWRITTEN text — must be its own layer)
    val marked = Ingest.withCols(df, Seq("_recov" -> recoverable))
    val filled = Ingest.withCols(Ingest.withCols(marked, Seq(
        Text -> when(col("_recov"), Scrubber.extractText(col(Html))).otherwise(col(Text)),
        Dqc -> when(col("_recov"), lit(null).cast("int")).otherwise(col(Dqc)))),
      // refresh the stats struct only where text actually changed; the
      // scalar features re-derive cheaply from it for every row
      Seq(Cols.Stats ->
        when(col("_recov"), graft.functions.TextFeatures.textStats(col(Text)))
          .otherwise(col(Cols.Stats))))
      .drop("_recov")
    RowChecks.metadata.transform(Ingest.derive(filled), cfg)
  }

  /** Scrub stage (windcorr analog, rr_windcorr.r:194-208): rewrite
    * text → scrubbed_text for still-alive rows, preserving the original.
    */
  def scrubStage(df: DataFrame): DataFrame =
    df.withColumn(ScrubbedText,
      when(Stage.referenceEligible, Scrubber.scrub(col(Text))).otherwise(col(Text)))

  /** Windcorr-style adjusted~raw regression report (the reference fits
    * lm(adjusted ~ raw) per run and logs slope/intercept,
    * windcorr/rr_windcorr.r:219-225): per domain, the least-squares fit of
    * scrubbed length on raw length, computed from exact integer sums in one
    * map-side-combinable aggregation. The final slope/intercept doubles are
    * derived with a fixed operation order, so the SQL oracle matches
    * bit-for-bit.
    */
  def scrubReport(df: DataFrame, rawCol: Column, scrubbedCol: Column): DataFrame = {
    val x = length(rawCol).cast("long")
    val y = length(scrubbedCol).cast("long")
    val agg = df.groupBy(col(Domain)).agg(
      count(lit(1)).as("n_docs"),
      sum(x).as("_sx"), sum(y).as("_sy"),
      sum(x * x).as("_sxx"), sum(x * y).as("_sxy"))
    val n = col("n_docs")
    val num   = (n * col("_sxy") - col("_sx") * col("_sy")).cast("double")
    val denom = (n * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val slope = when(denom =!= 0.0, num / denom)
    agg
      .withColumn("slope", slope)
      .withColumn("intercept",
        when(slope.isNotNull,
          (col("_sy").cast("double") - col("slope") * col("_sx").cast("double")) /
            n.cast("double")))
      .drop("_sx", "_sy", "_sxx", "_sxy")
  }
}

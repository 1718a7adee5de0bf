package graft.cascade

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.io.TableIO
import graft.model.{CascadeConfig, FlagCodes}
import graft.stages._

/** The ordered check cascade — the engine's top-level operator.
  *
  * Order is part of the spec (SURVEY.md §2.6.1; /root/reference/titan.r:115-257):
  * metadata(901) → crossField(301) → langMismatch(902) → plausibility(501) →
  * langBounds(502) → repetition(503) → toxicity(504) → sctFgDual(4) →
  * sctDual(3) → fgt(11) → buddy(10) → sctFg(2) → sct(1) → isolation(800) →
  * good(0). Each stage is a
  * null-guarded projection or a group-stats join; the row-local prefix fuses
  * into one codegen span, and Catalyst pushes the feature projection into
  * the scan.
  *
  * ONE stage loop ([[runWith]]) folds the stage list for both forms of a
  * run. They differ only in how a stage output is made durable — the
  * [[Materializer]], chosen by the entry point:
  *  - [[run]] (local): the input of every self-join stage is a local
  *    checkpoint, and the blocks a stage supersedes are swept as it runs.
  *    The in-memory batch form, also run on every streaming micro-batch
  *    (graft.streaming.StreamingFilter.microBatchCascade).
  *  - [[runResumable]] (snapshot): every post-prefix stage output is
  *    committed as a TableIO snapshot and re-read, and a restarted run
  *    resumes from the last committed stage — the north_rule "any stage
  *    restarts from the last committed Iceberg snapshot". Executor-local
  *    checkpoint blocks die with their executor; committed snapshots don't.
  *
  * Reference analog: every check's output is the next check's input
  * (reference titan.r:103-263, sequential flag mutation).
  */
object Cascade {
  import Cols._

  /** Checkpoint storage level. MEMORY_AND_DISK stores the UnsafeRow
    * batches as-is — SQL rows are already compact byte arrays, not object
    * trees, so "deserialized" costs little extra heap and ZERO codec CPU
    * per scan. MEMORY_AND_DISK_SER pushes every block through the
    * serializer on each write AND each of the many per-stage re-reads; that
    * CPU is core-count-invariant, i.e. exactly the kind of term that caps
    * multi-core scaling. Measured on the identical 2M-doc corpus at
    * local[32] (steady-state rep): SER 304.7 s vs deserialized 171.5 s.
    */
  private val CkptLevel = StorageLevel.MEMORY_AND_DISK

  /** Per-run registry of the checkpoint RDD ids THIS run created — the
    * sweep scope of a cascade run and of [[iterate]]. The previous scope
    * (everything registered on the shared SparkContext after the run's
    * baseline) would unpersist blocks a CONCURRENT query, streaming
    * micro-batch, or second cascade run registered mid-run; tracking only
    * ids observed around this run's own localCheckpoint calls confines the
    * sweep to blocks the run provably created. (Residual exposure: a
    * foreign registration landing inside one of our own localCheckpoint
    * calls — a window of a single `persist` call, not the whole run.)
    */
  private[graft] final class RunTracker(sc: SparkContext) {
    private val set = scala.collection.mutable.LinkedHashSet.empty[Int]
    def record(ids: Iterable[Int]): Unit = synchronized { set ++= ids }
    def snapshot: Set[Int] = synchronized { set.toSet }
    /** Unpersist these blocks (blocking: they are gone before the next
      * stage stores its own) and stop tracking them. */
    def release(ids: Set[Int]): Unit = {
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
      synchronized { set --= ids }
    }
  }

  /** The active run's tracker (thread-local: a cascade run builds its whole
    * plan on one driver thread). [[materialize]] records into it, so the
    * per-group stats checkpoints Neighborhood.joinReady/groupStats create
    * while a stage plan is BUILT are captured too.
    */
  private[graft] val runTracker =
    new scala.util.DynamicVariable[Option[RunTracker]](None)

  /** Materialize a stage input (local checkpoint at [[CkptLevel]]; lazy
    * unless `eager`). Records the registered RDD ids into the active
    * [[RunTracker]], if any.
    */
  def materialize(df: DataFrame, eager: Boolean = false): DataFrame =
    runTracker.value match {
      case None => df.localCheckpoint(eager, CkptLevel)
      case Some(t) =>
        val sc = df.sparkSession.sparkContext
        val before = sc.getPersistentRDDs.keySet.toSet
        val c = df.localCheckpoint(eager, CkptLevel)
        t.record(sc.getPersistentRDDs.keySet.toSet.diff(before))
        c
    }

  /** [[materialize]] eagerly, observing `metrics` (named aggregates) on the
    * rows as the same Spark action stores them: the checkpoint and the
    * metric values in order, with no second job reading the checkpoint.
    */
  def materializeMeasured(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val obs = Observation() // one per call: an Observation is filled once
    val c = materialize(df.observe(obs, metrics.head, metrics.tail: _*), eager = true)
    (c, scala.concurrent.Await.result(obs.future, scala.concurrent.duration.Duration.Inf))
  }

  /** Run `f` with job description `desc`, then restore the enclosing one:
    * labels nest, so a stats action inside a stage never leaves the rest of
    * the stage's jobs unlabeled (UI/diagnostics only).
    */
  private[graft] def labeled[T](sc: SparkContext, desc: String)(f: => T): T = {
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(outer)
  }

  /** One cascade stage. `selfRef` marks the self-join shape — the stage
    * aggregates statistics over its input and joins them back, so it scans
    * the input more than once. Folding such stages over a lazy plan would
    * re-execute the whole upstream (including the model UDF columns) once
    * per scan, compounding per stage — the runtime blows up exponentially
    * in cascade depth. Both materializers therefore make the input of every
    * selfRef stage durable: a local checkpoint (computed once, logical plan
    * truncated) or a snapshot commit + re-read.
    */
  final case class StageDef(code: Int, selfRef: Boolean, f: DataFrame => DataFrame)

  /** Iterate a spatial check to convergence: rerun while the number of new
    * suspects exceeds `breakAt`, up to `maxIter` rounds — removing an
    * outlier changes its neighbors' statistics
    * (/root/reference/functions/checks/buddy.r:97,209; bound like i.sct=10
    * in test/ini/ta_sct.ini:7). Each round is checkpointed to truncate
    * lineage, and the checkpoint action itself counts the round's suspects.
    */
  def iterate(df: DataFrame, maxIter: Int, breakAt: Long, code: Int)
             (once: DataFrame => DataFrame): DataFrame = {
    if (maxIter <= 1) return once(df)
    // scope the per-round sweep to ids THIS iteration created (standalone
    // callers get a fresh tracker; inside a cascade run the run's tracker is
    // reused so the run-level sweep sees the leftovers too)
    val tracker = runTracker.value.getOrElse(new RunTracker(df.sparkSession.sparkContext))
    runTracker.withValue(Some(tracker)) {
      var cur = df
      var prevIds: Set[Int] = Set.empty
      var prevFlagged = 0L
      var i = 0
      var converged = false
      while (i < maxIter && !converged) {
        // track the round's blocks (the checkpoint plus any per-group stats
        // checkpoints `once` registered while building) and release the
        // PREVIOUS round's as soon as the new round is materialized — a
        // 4-round iteration otherwise keeps four full light-corpus
        // checkpoints pinned until the next stage-level sweep. The round
        // checkpoint is EAGER and observes its own suspect count, so the
        // round costs one Spark action; the previous round's blocks are
        // only unpersisted after it, since its compute reads them.
        val before = tracker.snapshot
        val (c, m) = materializeMeasured(once(cur),
          count(when(col(Dqc) === code, 1)).as("flagged"))
        cur = c
        val added = tracker.snapshot.diff(before)
        val flagged = m.getLong(0)
        tracker.release(prevIds)
        prevIds = added
        val fresh = flagged - prevFlagged
        prevFlagged = flagged
        i += 1
        converged = fresh <= breakAt
      }
      cur
    }
  }

  /** The ordered stage list for a config. Order mirrors titan.r:115-257:
    * meta(901) → dem-fill+meta2 → windcorr/scrub → ccrrt(301) → dem(902) →
    * plausibility(501) → clim(502) → sct_fg_dual(4) → sct_dual(3) →
    * fgt(11) → buddy(10) → sct_fg(2) → sct(1) → isolation(800).
    * Model-based variants replace the heuristic ones when `models` is given.
    */
  def stages(cfg: CascadeConfig,
             models: Option[Models] = None,
             pseudoTexts: Seq[String] = Nil): Seq[StageDef] = {
    import FlagCodes._
    val b = Seq.newBuilder[StageDef]
    if (cfg.enabled.contains(Metadata)) {
      b += StageDef(Metadata, selfRef = false, d => RowChecks.metadata.transform(d, cfg))
      b += StageDef(Metadata, selfRef = false, d => ModelChecks.backfillAndRecheck(d, cfg))
    }
    // html is consumed only by the backfill and the cross-field check;
    // dropping it as soon as it is dead halves the bytes later stage
    // checkpoints materialize. Folded into the last consumer's stage: a
    // pure projection doesn't deserve a stage of its own.
    val dropHtmlAtCrossField = cfg.enabled.contains(CrossField)
    // scrub is non-flagging; code 0 marks it as a transform, always on
    b += StageDef(Good, selfRef = false, d => {
      val s = ModelChecks.scrubStage(d)
      if (dropHtmlAtCrossField) s else s.drop(Cols.Html)
    })
    models.foreach(m =>
      b += StageDef(Good, selfRef = false, d => ModelChecks.withModelFeatures(d, m)))
    if (cfg.enabled.contains(CrossField))
      b += StageDef(CrossField, selfRef = false,
        d => RowChecks.crossField.transform(d, cfg).drop(Cols.Html))
    if (cfg.enabled.contains(LangMismatch))
      b += StageDef(LangMismatch, selfRef = false, d => models match {
        case Some(_) => ModelChecks.langMismatch(d, cfg)
        case None    => RowChecks.langMismatchHeuristic.transform(d, cfg)
      })
    if (cfg.enabled.contains(Plausibility))
      b += StageDef(Plausibility, selfRef = false, d => RowChecks.plausibility.transform(d, cfg))
    if (cfg.enabled.contains(LangBounds))
      b += StageDef(LangBounds, selfRef = false, d => RowChecks.langBounds.transform(d, cfg))
    // built only when a ceiling is configured (like sctFgDual's pseudoTexts
    // gate): the gram pass costs a per-row sort, pointless at the off
    // defaults (a fraction never exceeds 1.0)
    if (cfg.enabled.contains(Repetition) && cfg.repetitionActive)
      b += StageDef(Repetition, selfRef = false, d => RowChecks.repetition.transform(d, cfg))
    if (cfg.enabled.contains(Toxicity) && cfg.toxicityActive)
      b += StageDef(Toxicity, selfRef = false, d => RowChecks.toxicity.transform(d, cfg))
    if (cfg.enabled.contains(SctFgDual) && pseudoTexts.nonEmpty)
      b += StageDef(SctFgDual, selfRef = true, d => ModelChecks.sctFgDual(d, cfg, pseudoTexts))
    if (cfg.enabled.contains(SctDual))
      b += StageDef(SctDual, selfRef = true, d => Neighborhood.dualOnce(d, cfg))
    models.foreach { m =>
      if (cfg.enabled.contains(Fgt))
        b += StageDef(Fgt, selfRef = false, d => ModelChecks.fgt(d, cfg, m))
    }
    if (cfg.enabled.contains(Buddy))
      b += StageDef(Buddy, selfRef = true, d =>
        iterate(d, cfg.buddyMaxIter, cfg.buddyBreakAt, Buddy)(Neighborhood.buddyOnce(_, cfg)))
    models.foreach { m =>
      if (cfg.enabled.contains(SctFg))
        b += StageDef(SctFg, selfRef = false, d => ModelChecks.sctFg(d, cfg, m.lms.size))
    }
    if (cfg.enabled.contains(Sct))
      b += StageDef(Sct, selfRef = true, d =>
        iterate(d, cfg.sctMaxIter, cfg.sctBreakAt, Sct)(Neighborhood.sctOnce(_, cfg)))
    if (cfg.enabled.contains(Isolation))
      b += StageDef(Isolation, selfRef = true, d => Neighborhood.isolationOnce(d, cfg))
    b.result()
  }

  /** Synthetic 1:1 row key: the payload split's reattach key and the
    * ingest duplicate drop's tiebreak (Ingest.keepFirst). Assigned on the
    * normalized input, before the row-local prefix, and frozen by the
    * durable prefix output (or, for a stage list without a self-join
    * stage, by a lazy checkpoint of the input), so every reader of the
    * light and the payload side sees the SAME ids, across restarts too (a
    * resumed run reads the committed ids, never re-derives them). Derived
    * from the input's own partitioning, so every form of a run, spread or
    * not, picks the same keeper among otherwise equal rows.
    */
  private val RowId = "_graft_rid"

  /** Columns the post-prefix stages actually read. Every `text`/`html`
    * consumer (metadata, backfill, scrub, model features, cross-field,
    * repetition) is row-local and runs in the prefix BEFORE the first
    * self-join stage; the neighborhood family reads only the configured
    * group keys, the row state (doit, prio, dqc), the url HASH (the
    * deterministic neighbor-cap sample — the url string itself is payload
    * from here on) and the specific numeric features it consumes:
    * `f_nwords` (buddy/sct and the dual event), `f_digr` (sctFgDual) and
    * the per-member perplexities (fgt/sctFg). Everything else the prefix
    * derived — the `f_stats` struct, the row-local ratio features, the
    * detected-language pair — is dead after the prefix and travels as
    * payload, which at corpus scale roughly halves the bytes every light
    * checkpoint/stat scan moves.
    */
  private def workingCol(cfg: CascadeConfig)(c: String): Boolean =
    c == RowId || c == UrlHash || c == Domain || c == Lang ||
      c == Doit || c == Prio || c == Dqc ||
      c == NWords || c == DigitRatio || c.startsWith(LogPpl) ||
      cfg.buddyKeys.contains(c) || cfg.isolationKeys.contains(c)

  /** Group-key dictionary encoding for the light working set: `domain` and
    * `lang` travel as null-preserving xxhash64 codes (one 8-byte fixed slot
    * each) instead of strings (8-byte slot + padded bytes) through every
    * post-prefix checkpoint/snapshot and stats scan — bytes/row of the
    * iterated working set is the single-box DRAM-roofline currency
    * (BENCH/BASELINE.md §1). The post-prefix stages only ever GROUP and
    * JOIN on these columns (equal strings ↔ equal hashes; null stays null,
    * so null keys still never match an equi-join), and the one value
    * comparison (fgt's per-language background lookup) hashes its literals
    * to match. The original strings ride the payload and rejoin at the end,
    * so caller-visible output is unchanged. Collision risk: two domains
    * colliding on xxhash64 would merge their neighborhood statistics —
    * expected colliding PAIRS at 10⁸ domains ≈ (10⁸)²/2⁶⁵ ≈ 3·10⁻⁴, i.e.
    * none, and the consequence is a slightly-blended stat, not corruption
    * (the url already travels as xxhash64 under the same argument).
    */
  private def encodedKeyCols(cfg: CascadeConfig, outCols: Seq[String]): Seq[String] =
    Seq(Domain, Lang).filter(c => outCols.contains(c) && workingCol(cfg)(c))

  private def encodeKeys(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c,
        when(col(c).isNull, lit(null).cast("long")).otherwise(xxhash64(col(c)))))

  /** Table names of the snapshot form, under its root. */
  val PrefixTable = "prefix"
  private def stageTable(i: Int, code: Int) = f"stage_$i%03d_$code"

  /** Normalize + stamp lists + fold the enabled checks + final decision,
    * with local checkpoints (see [[Local]]). The input of every
    * self-join-shaped stage is materialized first (see StageDef) — the
    * narrow row-local prefix between two such stages stays fused in one
    * codegen span, and each stage's statistics pass reads the materialized
    * blocks instead of recomputing the cascade prefix.
    */
  def run(pages: DataFrame, cfg: CascadeConfig,
          models: Option[Models] = None,
          pseudoTexts: Seq[String] = Nil): DataFrame =
    runWith(pages, cfg, models, pseudoTexts, new Local(pages.sparkSession))

  /** The same cascade with every post-prefix stage committed under `root`
    * (see [[Snapshot]]); a rerun against a `root` that already holds
    * progress for the same stage list resumes from the last committed
    * stage instead of recomputing. Stage writes are idempotent (a rerun of
    * a committed stage appends a fresh snapshot; readers only ever see the
    * committed manifest). Ends with the `pages_labeled` and `metrics`
    * ([[metrics]]) commits and returns the committed labels.
    *
    * `stopAfterStages`: commit at most this many post-prefix stages and
    * return early WITHOUT the final label/metrics commit — a deterministic
    * stand-in for a mid-run kill, used by the resume-equivalence tests and
    * the scaling bench's resume check. Production callers leave the
    * default.
    */
  def runResumable(pages: DataFrame, cfg: CascadeConfig, root: String,
                   models: Option[Models] = None,
                   pseudoTexts: Seq[String] = Nil,
                   stopAfterStages: Int = Int.MaxValue): DataFrame =
    runWith(pages, cfg, models, pseudoTexts,
      new Snapshot(pages.sparkSession, root, stopAfterStages))

  /** The stage loop.
    *
    * Payload split: the self-join stages form a chain of full-corpus
    * materializations, but they only ever read the light working set
    * ([[workingCol]] — ~100 bytes/row). The heavy payload columns (text,
    * scrubbed_text, any caller passthrough) are pure cargo there, and
    * row-based checkpoint blocks have no column pruning — every stats scan
    * and every re-checkpoint would move the text bytes through memory
    * again. Core-count-invariant memory traffic is exactly the term that
    * caps single-box scaling (BENCH/BASELINE.md §1), so after the row-local
    * prefix (the last text consumer) the corpus is made durable ONCE with
    * the [[RowId]] and split: the checks fold over the light projection,
    * and the payload is reattached 1:1 by [[RowId]] at the end. Consumers
    * that never read the payload (e.g. a keep-count) pay only a pruned
    * id-join. The split point is a property of the stage list alone — the
    * first self-join stage — and the same for both materializers; a stage
    * list without one has nothing to fold over the light set and runs as
    * one fused projection.
    *
    * Ingest duplicate drop (read_data_to_check.r:122-143): duplicates must
    * never inflate neighborhood statistics, and no self-join stage runs
    * before the split, so the drop happens where the light working set is
    * built (or, without a split, on the fused output). Ingest numbers and
    * fingerprints the normalized input (with a split, the fingerprint
    * follows the prefix input's spread, so its md5 pass runs on every task
    * slot); the fingerprint and the [[RowId]] tiebreak ride
    * through the row-local prefix and are frozen with its durable output;
    * the keeper semi-join then reads only narrow columns of that output, so
    * the prefix plan has no exchange at all, and the inner payload reattach
    * drops the duplicates' payload too. The row kernels of the prefix
    * therefore also see the duplicate rows; every prefix stage is
    * row-local, so the survivors' values are the same either way. Without
    * a split nothing downstream is durable before the keeper reads its
    * input three times, so the input is frozen by a lazy checkpoint.
    */
  private def runWith(pages: DataFrame, cfg: CascadeConfig, models: Option[Models],
                      pseudoTexts: Seq[String], m: Materializer): DataFrame =
    runTracker.withValue(Some(m.tracker)) {
      val sc = pages.sparkSession.sparkContext
      val stageList = stages(cfg, models, pseudoTexts)
      val split = Some(stageList.indexWhere(_.selfRef)).filter(_ >= 0)
      def fold(start: DataFrame, from: Int, until: Int): DataFrame =
        (from until until).foldLeft(start) { (d, i) =>
          val s = stageList(i)
          if (split.forall(i < _)) s.f(d) // row-local prefix: one fused projection
          else labeled(sc, s"cascade: stage ${s.code}")(m.stage(d, s, i, split.contains(i)))
        }
      def dedup(d: DataFrame): DataFrame =
        if (cfg.dedupIngest) Ingest.keepFirst(d, RowId) else d
      def fingerprinted(d: DataFrame): DataFrame = if (cfg.dedupIngest) Ingest.fingerprinted(d) else d
      def ingested(input: DataFrame => DataFrame): DataFrame = Ingest.stampLists(Ingest.features(
        input(Ingest.normalizeCore(pages, cfg).withColumn(RowId, monotonically_increasing_id()))), cfg)
      split match {
        case None =>
          val frozen = ingested(d => if (cfg.dedupIngest) materialize(Ingest.fingerprinted(d)) else d)
          m.finish(dedup(fold(frozen, 0, stageList.length)).drop(RowId), finalDecision)
        case Some(at) =>
          // fingerprinted after a spread, on every task slot
          val full = m.prefix(fold(ingested(d => fingerprinted(m.prefixInput(d))), 0, at))
          val outCols = full.columns.toSeq.filterNot(c => c == RowId || c == Ingest.Fp)
          // key-encoded columns live TWICE: hashed in the light set (grouping/
          // join key) and as strings in the payload (caller-visible output)
          val encKeys = encodedKeyCols(cfg, outCols)
          // never empty: url and text always travel as payload
          val payloadCols = outCols.filterNot(workingCol(cfg)) ++ encKeys
          val light = m.light(encodeKeys(
            dedup(full).select(full.columns.filter(workingCol(cfg)).map(col): _*), encKeys))
          m.finish(fold(light, at, stageList.length), d => finalDecision(
            d.drop(encKeys: _*) // hashed keys: the string originals rejoin here
              .join(full.select((RowId +: payloadCols).map(col): _*), Seq(RowId)) // 1:1
              .select(outCols.map(col): _*)))
      }
    }

  /** How the stage loop makes its outputs durable — the one difference
    * between the local and the snapshot form. Where the payload splits is
    * not its choice ([[runWith]] splits at the first self-join stage); it
    * only makes the prefix output, the light working set and each later
    * stage output durable in its own way. Each run gets a fresh instance;
    * its [[RunTracker]] scopes every sweep of checkpoint blocks to the ones
    * this run created.
    */
  private sealed abstract class Materializer(spark: SparkSession) {
    val tracker = new RunTracker(spark.sparkContext)
    /** The numbered, normalized input of the row-local prefix of a stage
      * list with a self-join stage (fingerprinted after it, with ingest
      * dedup).
      */
    def prefixInput(df: DataFrame): DataFrame
    /** The prefix output, full width with the [[RowId]] (and the
      * fingerprint), made durable: the ids the light and the payload side
      * read. By name: a resumed run never builds it.
      */
    def prefix(df: => DataFrame): DataFrame
    /** The light working set, projected from the prefix output. */
    def light(df: DataFrame): DataFrame
    /** Stage `i` over `d`; `durableInput`: `d` is the split's freshly made
      * durable start frame.
      */
    def stage(d: DataFrame, s: StageDef, i: Int, durableInput: Boolean): DataFrame
    /** The caller's result from the checked frame; `label` reattaches the
      * payload and adds the final decision.
      */
    def finish(checked: DataFrame, label: DataFrame => DataFrame): DataFrame
  }

  /** Local checkpoints. The prefix output and the light working set are
    * eager checkpoints (a spread prefix input a lazy one), the input of
    * every later selfRef stage a lazy one (so its scans share one
    * computation). Everything this run created that a new checkpoint
    * supersedes — the previous stage's checkpoint, iterate-round
    * leftovers, the per-group stats checkpoints groupStats/joinReady
    * created while the stage plan was BUILT — is unpersisted right after
    * the stage ran. Without this, blocks stay pinned until driver GC and a
    * long cascade over millions of rows turns into an eviction storm.
    * Blocks that back the returned frame (the payload side of the split)
    * stay pinned for the caller's action.
    */
  private final class Local(spark: SparkSession) extends Materializer(spark) {
    private val sc = spark.sparkContext
    private var prefixIds = Set.empty[Int]
    private var protectedIds = Set.empty[Int]
    /** The partition count of a prefix input this run spread. */
    private var spreadFrom: Option[Int] = None

    private def materializeTracked(d: DataFrame, eager: Boolean): (DataFrame, Set[Int]) = {
      val before = tracker.snapshot
      val c = materialize(d, eager)
      (c, tracker.snapshot.diff(before))
    }
    private def sweepExcept(keep: Set[Int]): Unit =
      tracker.release(tracker.snapshot.diff(keep).diff(protectedIds))

    // Spread: an input on fewer partitions than the scheduler's default
    // parallelism (one streamed slice file is one partition) is
    // hash-partitioned on its unique row id to that many partitions inside
    // a LAZY checkpoint, so the row-local prefix (the fingerprint's md5
    // pass included) runs on every task slot and its own plan still has no
    // exchange. Creating the checkpoint runs the exchange's one-task map
    // side (the adaptive plan runs its shuffle stage to finish planning);
    // the prefix checkpoint's job reads and pins the spread rows, and the
    // prefix sweep reaps them. The count comes
    // from the input's planned RDD, which runs no job for a plan without
    // an exchange. An input whose plan has one (an adaptive plan) keeps the
    // partitioning Spark chose: reading its count would run its upstream
    // stages, and the prefix would run them again.
    def prefixInput(df: DataFrame): DataFrame = {
      val qe = df.queryExecution
      if (qe.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]) df
      else {
        val n = qe.toRdd.getNumPartitions
        if (n >= sc.defaultParallelism) df
        else {
          spreadFrom = Some(n max 1)
          materialize(df.repartition(sc.defaultParallelism, col(RowId)), eager = false)
        }
      }
    }

    // read back on the input's partition count: the prefix was spread for
    // its row kernels, but the light set built from it and every stats pass
    // over that narrow frame gain nothing from more, smaller partitions
    def prefix(df: => DataFrame): DataFrame = {
      val (c, ids) = materializeTracked(df, eager = true)
      prefixIds = ids
      sweepExcept(ids) // a spread input's blocks are superseded here
      spreadFrom.fold(c)(c.coalesce)
    }

    // the payload stays a LAZY projection of the pinned prefix blocks —
    // materializing it as its own checkpoint would put a second copy of the
    // text bytes in the storage pool (measured: eviction/spill churn that
    // nearly doubled the 2M-doc cascade). UnsafeRow field access is
    // offset-based, so the end-join's pruned read never copies bytes the
    // consumer didn't ask for.
    def light(df: DataFrame): DataFrame = {
      protectedIds ++= prefixIds
      materialize(df, eager = true)
    }

    def stage(d: DataFrame, s: StageDef, i: Int, durableInput: Boolean): DataFrame =
      if (s.selfRef && !durableInput) foldSelfRef(d, s) else s.f(d)

    def finish(checked: DataFrame, label: DataFrame => DataFrame): DataFrame = label(checked)

    /** Fold one selfRef stage over a LAZY input checkpoint: the stage's own
      * stats pass (every selfRef stage measures its per-group statistics
      * with a driver action while its plan is built — that is what makes it
      * selfRef) materializes the checkpoint inside that same Spark action,
      * so no separate eager-checkpoint job is paid per stage. The sweep of
      * superseded blocks is DEFERRED until after the stage ran: the lazy
      * checkpoint's compute still reads the previous stage's blocks, and
      * the stage's own stats checkpoints (its broadcast builds read them at
      * the NEXT action) must survive it. A defensive check forces
      * materialization in the (currently impossible) case of a selfRef
      * stage that ran no action, so the sweep can never strand an
      * unmaterialized lineage-truncated plan.
      */
    private def foldSelfRef(d: DataFrame, s: StageDef): DataFrame = {
      val (c, added) = materializeTracked(d, eager = false)
      val before = tracker.snapshot
      val out = s.f(c)
      val fullyCached = sc.getRDDStorageInfo.exists(i =>
        added.contains(i.id) && i.numCachedPartitions == i.numPartitions)
      if (!fullyCached) c.count() // force: see scaladoc
      sweepExcept(added ++ tracker.snapshot.diff(before))
      out
    }
  }

  /** TableIO snapshot commits. The row-local prefix — every text/html
    * consumer — is committed ONCE, full width with the [[RowId]] (and,
    * with ingest dedup, the fingerprint, so the duplicate drop that builds
    * the light set reads the committed tiebreak); its presence is the
    * progress indicator of a restart. Nothing before it is made durable:
    * the prefix input stays a lazy re-read of the source. Every later
    * stage snapshot holds only the light working set, because the neighborhood
    * stages never read the payload; parquet being columnar, even the first
    * light projection of the prefix never moves the text bytes off disk.
    * This removes the text bytes from every per-stage write AND every
    * stats-pass re-read — the dominant I/O term of a 10^12-doc cascade.
    * Re-reading each committed stage truncates lineage (which the
    * iterate-to-convergence checks need, SURVEY.md §4) and guarantees the
    * next stage consumes exactly what a restart would consume. The stats
    * checkpoints a stage registers while its plan is built are reaped once
    * its snapshot is committed. A stage list without a self-join stage
    * commits only `pages_labeled` and `metrics`; with ingest dedup, its
    * input's lazy checkpoint (see [[runWith]]) is reaped after them.
    */
  private final class Snapshot(spark: SparkSession, root: String, stopAfterStages: Int)
      extends Materializer(spark) {
    private var committed = 0
    private def stopped = committed >= stopAfterStages
    private def reap(): Unit = tracker.release(tracker.snapshot)

    // a lazy re-read of the source: the prefix commit freezes the
    // fingerprint and the row id, and a resumed run reads them back
    def prefixInput(df: DataFrame): DataFrame = df

    def prefix(df: => DataFrame): DataFrame = {
      if (TableIO.currentSnapshot(root, PrefixTable).isEmpty) TableIO.write(df, root, PrefixTable)
      TableIO.read(spark, root, PrefixTable)
    }

    def light(df: DataFrame): DataFrame = df

    def stage(d: DataFrame, s: StageDef, i: Int, durableInput: Boolean): DataFrame = {
      val table = stageTable(i, s.code)
      if (TableIO.currentSnapshot(root, table).isDefined) TableIO.read(spark, root, table)
      else if (stopped) d
      else {
        TableIO.write(s.f(d), root, table)
        committed += 1
        val out = TableIO.read(spark, root, table)
        reap()
        out
      }
    }

    def finish(checked: DataFrame, label: DataFrame => DataFrame): DataFrame =
      if (stopped) checked // simulated mid-run kill
      else {
        val labeled = label(checked)
        TableIO.write(labeled, root, "pages_labeled")
        TableIO.write(metrics(labeled), root, "metrics")
        reap()
        TableIO.read(spark, root, "pages_labeled")
      }
  }

  private val observeId = new java.util.concurrent.atomic.AtomicLong()

  /** Surviving nulls are declared good and the boolean keep column is added
    * (functions/misc/final_decision.r:9-47).
    *
    * The result carries an `observe` metric (total/kept counts — the
    * final_decision.r summary line, surfaced through Spark's observation
    * listener on batch AND streaming). The CollectMetrics node is also a
    * deliberate OPTIMIZATION BARRIER: Catalyst never pushes a predicate
    * below it (that would change the observed counts), so a consumer's
    * `filter(keep)` cannot be substituted down through the ~14 stacked
    * flag projections — that substitution duplicates the dqc chain once
    * per reference per layer (exponential; measured blowing janino's 64 KB
    * method limit, which silently disabled whole-stage codegen for the
    * entire row-local chain) and re-evaluates the whole cascade inside the
    * scan filter. Consumers filter on the materialized label instead,
    * which is both the compiling plan and the cheaper one.
    */
  def finalDecision(df: DataFrame): DataFrame =
    df.withColumn(Dqc, coalesce(col(Dqc), lit(FlagCodes.Good)))
      .withColumn(KeepCol, col(Dqc) === FlagCodes.Good || col(Dqc) === FlagCodes.Keep)
      .observe(s"graft_cascade_${observeId.incrementAndGet()}",
        count(lit(1)).as("n_docs"),
        sum(col(KeepCol).cast("long")).as("n_keep"))

  /** Check-level reject counts per provider plus per-partition lineage —
    * the metrics table the north rule requires (reference prints the same
    * counts per check, e.g. buddy.r:185-205, final_decision.r:12-47).
    */
  def metrics(labeled: DataFrame): DataFrame =
    labeled
      .withColumn("partition_id", spark_partition_id())
      .groupBy(col(Domain), col(Dqc), col("partition_id"))
      .agg(count(lit(1)).as("n_docs"))
}

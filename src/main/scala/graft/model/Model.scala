package graft.model

import java.sql.Timestamp

/** Sticky quality-control flag codes.
  *
  * The reference (metno/TITAN) runs a strictly ordered cascade of checks over
  * one snapshot table; each check stamps its own integer code on rows that
  * fail and later checks skip already-flagged rows, so the flag identifies the
  * *first* check that rejected the row (see /root/reference/titan.r:103-263
  * and functions/misc/final_decision.r:9). We keep the reference's code
  * numbering where a webtext analog exists so the cascade order
  * (nometa → … → isolation → good) stays recognizable.
  */
object FlagCodes {
  val Good        = 0   // survived every check (final_decision.r:9)
  val Sct         = 1   // robust spatial-consistency outlier (checks/sct_resistant.r)
  val SctFg       = 2   // outlier vs broadcast model ("first guess", checks/sct_fg_resistant.r)
  val SctDual     = 3   // binary-event consistency (checks/sct_dual_r.r)
  val SctFgDual   = 4   // binary-event vs model pseudo-docs (checks/sct_fg_dual_r.r)
  val Buddy       = 10  // neighborhood aggregate deviation (checks/buddy.r)
  val Fgt         = 11  // deviation vs model mean/sd with ensemble vote (checks/fgt.r)
  val CrossField  = 301 // cross-column consistency (checks/ccrrt.r)
  val Plausibility= 501 // hard value bounds (checks/plausibility_test.r)
  val LangBounds  = 502 // lang-conditioned bounds (checks/climatological_check.r: month ↔ lang)
  val Repetition  = 503 // n-gram repetition bounds (plausibility-family slot; Gopher-style)
  val Toxicity    = 504 // toxic-term density ceiling (plausibility-family slot; lexicon regex)
  val Isolation   = 800 // too few neighbors to judge (checks/isolation.r)
  val Metadata    = 901 // missing/malformed required fields (checks/metadata_check.r)
  val LangMismatch= 902 // declared vs detected language disagree (checks/check_z_against_dem.r analog)
  val Keep        = 990 // keep-listed: force-keep, usable as reference (read_data_to_check.r:108-119)
  val Blacklist   = 999 // block-listed: force-drop (read_data_to_check.r:95-106)
}

/** One web page — the engine's single relation, per BASELINE.json input_hint:
  * Iceberg/parquet table (url, warc_ts, html, text, lang). The TITAN analog
  * is the observation row (lat, lon, elev, value, prid)
  * (/root/reference/functions/IO/read_data_to_check.r:151-155); `domain`
  * plays the role of the provider id `prid`.
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Closed numeric interval. */
final case class Bounds(min: Double, max: Double) {
  def contains(v: Double): Boolean = v >= min && v <= max
}

/** One buddy-check configuration — the reference runs a *sequence* of these
  * per check invocation (the `j` loop over radii/threshold pairs,
  * /root/reference/functions/checks/buddy.r:101 with ini pairs like
  * test/ini/rr1_buddy.ini:16-20). A check with one configuration is a
  * one-element list.
  */
final case class BuddyParams(minN: Int, z: Double)

/** One sct configuration — the reference's four spatial drivers share the
  * same `j` configuration-loop skeleton (sct_resistant.r runs the identical
  * loop as buddy.r:101; each j sees the flags the previous stamped).
  */
final case class SctParams(minN: Int, z: Double)

/** One sct_dual configuration (sct_dual_r.r shares the same `j` skeleton). */
final case class DualParams(minN: Int, eventWords: Int, loFrac: Double, hiFrac: Double)

/** One fgt configuration (fgt.r runs the same per-`j` loop over its
  * threshold vectors, fgt.r:257-267; each j sees earlier flags).
  */
final case class FgtParams(z: Double, sdFloor: Double)

/** Per-provider ingest shaping — the reference's per-provider header remap +
  * affine rescale applied before any check sees the data
  * (/root/reference/functions/IO/read_data_to_check.r:50-84: `varname.*`
  * remaps, `value ← offset + cfact·value`).
  *
  * `remap` renames source-specific column names to the canonical schema
  * (e.g. "page_url" → "url"); `affine` rescales numeric columns as
  * offset + cfact·x (keyed by canonical name, applied after the remap).
  */
final case class SourceSpec(
    remap: Map[String, String] = Map.empty,
    affine: Map[String, (Double, Double)] = Map.empty)

/** Per-check and global configuration.
  *
  * TITAN parameterizes every check per (test j, provider f) with recycle
  * rules (/root/reference/functions/checks/buddy.r:30-52) merged from a
  * ~200-flag CLI (functions/IO/argparser.r:85-110). We keep a typed config
  * tree instead; per-provider overrides are maps keyed by domain. Each
  * check with a `j` loop (buddy, sct, sct_dual, fgt) is configured only by
  * its `*Params` list, which must not be empty.
  *
  * doit semantics (argparsers/argparser_doit.r:4): 0 = provider excluded
  * entirely, 1 = rows used as references and testable, 2 = used as
  * references but never flagged.
  */
final case class CascadeConfig(
    // metadata check (901)
    minChars: Int = 50,
    maxChars: Int = 1000000,
    // plausibility (501) — C4/Gopher-style hard bounds
    minWords: Int = 10,
    maxWords: Int = 100000,
    meanWordLen: Bounds = Bounds(2.0, 12.0),
    maxSymbolRatio: Double = 0.30,
    minDistinctWordRatio: Double = 0.0, // repetition rule (C4/Gopher n-gram dedup)
    // lang-conditioned bounds (502) — stopword-ratio minimum per language
    langStopMin: Map[String, Double] = Map("en" -> 0.05),
    // repetition bounds (503) — Gopher-style top/duplicate word-n-gram
    // fraction ceilings. 1.0 = off (a fraction never exceeds 1, and the
    // comparison is strict); the stage is built only when one is active,
    // like sctFgDual's pseudoTexts gate
    maxTop2GramFrac: Double = 1.0,
    maxDup2GramFrac: Double = 1.0,
    maxTop3GramFrac: Double = 1.0,
    // toxicity (504) — ceiling on lexicon-hit density (hits / words) over
    // the ORIGINAL text (the scrub's <TOX> masking runs on the copy). 1.0 =
    // off STRUCTURALLY: `toxicityActive` gates the stage out of the cascade
    // at exactly 1.0 (like the 503 gate above). Note density itself is NOT
    // bounded by 1 — a hyphenated token like 'drokk-gorram' is 1 word but 2
    // regex hits — so the off-switch is the build gate, not the comparison
    maxToxicFrac: Double = 1.0,
    // lang mismatch (902)
    langMismatchMinConf: Double = 0.10,
    // buddy (10) — neighborhood key defaults to the provider (domain); a
    // cross-provider key (e.g. lang) makes priority rounds meaningful, as
    // in the reference where providers share the spatial neighborhoods
    buddyKeys: Seq[String] = Seq("domain"),
    buddyMaxIter: Int = 1,
    buddyBreakAt: Long = 0L,
    // (minN, z) per test configuration, applied in order (reference `j`
    // loop, buddy.r:101); at least one
    buddyParams: Seq[BuddyParams] = Seq(BuddyParams(5, 2.5)),
    // variance-stabilizing fixed-point log1p before the buddy z test
    // (boxcox analog, misc/statistics_util.r:101-107)
    buddyLog1p: Boolean = false,
    // minimum group σ for the buddy z (in x units — milli-log1p when
    // buddyLog1p). A near-degenerate neighborhood (every doc the same
    // length) otherwise manufactures huge z from noise; the reference
    // floors its gaussian spreads the same way (sct's sig2o minimum,
    // functions/checks/sct_resistant.r; cf. FgtParams.sdFloor). 0 = off.
    buddySdFloor: Double = 0.0,
    // sct (1) — robust z via median/MAD
    sctMaxIter: Int = 1,
    sctBreakAt: Long = 0L,
    // (minN, z) per test configuration, applied in order (the `j` loop
    // shared by all four spatial drivers); at least one
    sctParams: Seq[SctParams] = Seq(SctParams(5, 3.0)),
    // sct_dual (3) — binary event consistency: (minN, eventWords, loFrac,
    // hiFrac) per test configuration, applied in order; at least one
    dualParams: Seq[DualParams] = Seq(DualParams(5, 60, 0.2, 0.8)),
    // fgt (11) — deviation vs broadcast model mean/sd, ensemble majority:
    // (z, sdFloor) per test configuration, applied in order (fgt.r:257-267
    // `j` loop); the sd floor keeps near-constant corpora from over-flagging.
    // At least one
    fgtParams: Seq[FgtParams] = Seq(FgtParams(4.0, 0.3)),
    // perplexity outlier (2) — absolute bound vs the broadcast LM
    maxLogPpl: Double = 8.0,
    // sct_fg_dual (4) — binary event vs pseudo-doc-augmented neighborhood
    fgDualDigitRatio: Double = 0.2,
    fgDualMinN: Int = 5,
    fgDualLoFrac: Double = 0.1,
    fgDualHiFrac: Double = 0.95,
    // isolation (800) — neighborhood key may be finer than the buddy key
    // (a doc needs same-language buddies on its host to be checkable)
    isolationMinN: Int = 3,
    isolationKeys: Seq[String] = Seq("domain", "lang"),
    // ingest lists
    blacklistDomains: Set[String] = Set.empty,
    keepDomains: Set[String] = Set.empty,
    doit: Map[String, Int] = Map.empty,          // default 1
    priorities: Map[String, Int] = Map.empty,    // default 0; higher = checked first
    // corpus scope: crawl-window bounds on warc_ts (the reference constrains
    // every run to a lon/lat box or the data bbox,
    // IO/read_data_to_check.r:234-249) — a pushed-down scan predicate, so on
    // a warc_ts-partitioned table it prunes partitions before any check
    tsMin: Option[java.sql.Timestamp] = None,
    tsMax: Option[java.sql.Timestamp] = None,
    // ingest-time exact duplicate drop (read_data_to_check.r:122-143):
    // duplicates removed BEFORE any check so they never pollute
    // neighborhood statistics; keeper = minimum url per text fingerprint
    dedupIngest: Boolean = false,
    // neighbor cap (num_max_outer analog, checks/buddy.r:46,154-167):
    // bound how many rows a giant group contributes to its own statistics
    // via deterministic hash-proportional sampling. None is a cap that no
    // group ever binds; it runs the same stats pass as any other cap
    maxRefsPerGroup: Option[Int] = None,
    // stats join-back form (Neighborhood.statsJoinForm): the per-group
    // stats table's cardinality is MEASURED at run time (observed by the
    // action that checkpoints the table) and the physical join is chosen
    // statically — broadcast at or below this many groups, genuine
    // sort-merge (plus AQE skew split) above it. 2M groups ≈ ~100 MB of
    // (key, 4×long) rows: comfortably broadcastable on executors sized for
    // a 100 TB corpus, far above anything a static optimizer would risk,
    // and far below the 10⁷–10⁸-domain regime where SMJ is the only
    // correct answer. Why not leave it to AQE: its mid-flight SMJ→BHJ
    // conversion first materializes the probe-side exchange — a full
    // corpus shuffle write per stats join, hash-partitioned on the
    // zipf-skewed group key — and can then read it reduce-side, baking a
    // 60%-of-rows partition into every downstream checkpoint (measured:
    // two 54.5 s single-straggler buddy-iteration jobs at 4M docs that
    // were the whole 2→8-core scaling deficit)
    statsBroadcastMaxGroups: Long = 2000000L,
    // which checks run (TITAN: each check behind a CLI switch, titan.r:140-256)
    enabled: Set[Int] = CascadeConfig.allChecks) {

  require(buddyParams.nonEmpty, "buddyParams must list at least one configuration")
  require(sctParams.nonEmpty, "sctParams must list at least one configuration")
  require(dualParams.nonEmpty, "dualParams must list at least one configuration")
  require(fgtParams.nonEmpty, "fgtParams must list at least one configuration")

  /** Is any repetition ceiling configured? (503 runs only when so.) */
  def repetitionActive: Boolean =
    maxTop2GramFrac < 1.0 || maxDup2GramFrac < 1.0 || maxTop3GramFrac < 1.0

  /** Is the toxic-density ceiling configured? (504 runs only when so.) */
  def toxicityActive: Boolean = maxToxicFrac < 1.0
}

object CascadeConfig {
  import FlagCodes._
  val allChecks: Set[Int] = Set(
    Metadata, Plausibility, LangBounds, Repetition, Toxicity, LangMismatch,
    CrossField, SctFgDual, SctDual, Fgt, Buddy, SctFg, Sct, Isolation)

  /** Checks expressible 1:1 in portable SQL (used by the DuckDB oracle
    * queries); model-based checks (902-by-model, 2, 11) are verified by
    * ScalaTest F1 gates instead.
    */
  val sqlCheckable: Set[Int] = Set(
    Metadata, Plausibility, LangBounds, Repetition, LangMismatch,
    SctDual, Buddy, Sct, Isolation)
}

package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{CascadeConfig, FlagCodes}

/** Canonical working-column names the cascade maintains. */
object Cols {
  val Url    = "url"
  val WarcTs = "warc_ts"
  val Html   = "html"
  val Text   = "text"
  val Lang   = "lang"
  val Domain = "domain" // provider analog (TITAN prid)
  val Doit   = "doit"   // 0 excluded / 1 testable / 2 reference-only
  val Prio   = "prio"   // priority class, higher = checked first
  val Dqc    = "dqc"    // sticky flag, null = not yet judged
  val KeepCol= "keep"   // final boolean decision

  // derived feature columns (computed once, spatconv-style)
  val UrlHash = "f_uh"  // xxhash64(url): the only form of the url the
                        // post-prefix stages need (neighbor-cap sampling) —
                        // 8 bytes instead of the url string in every light
                        // checkpoint/snapshot
  val Stats  = "f_stats" // single-pass char-class counts (TextStatsExpr)
  val NChars = "f_nchars"
  val NWords = "f_nwords"
  val MeanWordLen = "f_mwl"
  val SymbolRatio = "f_symr"
  val StopRatio   = "f_stopr"
  val DistinctWordRatio = "f_dwr"
  val DigitRatio  = "f_digr"
  val ScrubbedText = "scrubbed_text"
  val LogPpl      = "f_logppl"   // model-based (n-gram LM)
  val DetLang     = "f_detlang"  // model-based (char n-gram langid)
  val DetLangConf = "f_detconf"
}

/** One check in the ordered cascade.
  *
  * Contract (TITAN invariants, SURVEY.md §2.6): a stage may only write its
  * own `code` into rows whose flag is still null (plus keep-listed rows iff
  * `flagsKeep`), it must leave every other flag untouched, and it must use
  * only alive (null or keep) rows with doit ∈ {1,2} as references.
  * Reference skeleton: `ix <- which(is.na(dqcflag) ...)` then
  * `dqcflag[ix] <- code` in every check, e.g.
  * /root/reference/functions/checks/plausibility_test.r:7-11 and
  * functions/checks/buddy.r:118-123,172-177.
  */
trait CheckStage extends Serializable {
  def name: String
  def code: Int

  /** May this stage flag keep-listed (990) rows? Only metadata and
    * plausibility in the reference (titan.r:115-118,192 vs
    * metadata_check.r:20, plausibility_test.r:7).
    */
  def flagsKeep: Boolean = false

  def transform(df: DataFrame, cfg: CascadeConfig): DataFrame
}

object Stage {
  import Cols._

  /** Rows this stage may stamp: flag still null (or keep if allowed) and
    * provider testable (doit == 1, buddy.r:172-174).
    */
  def flaggable(flagsKeep: Boolean): Column = {
    val base =
      if (flagsKeep) col(Dqc).isNull || col(Dqc) === FlagCodes.Keep
      else col(Dqc).isNull
    base && col(Doit) === 1
  }

  /** Rows usable as references: alive or keep-listed, any doit != 0
    * (doit == 0 rows are dropped at ingest; buddy.r:118-121).
    */
  val referenceEligible: Column =
    col(Dqc).isNull || col(Dqc) === FlagCodes.Keep

  /** The sticky-flag write: stamp `code` where the row is flaggable and the
    * failure condition holds; never touch non-null flags otherwise.
    *
    * Deliberately written in `coalesce` form with ONE reference to the dqc
    * column in the common (flagsKeep = false) case. The naive
    * `when(isnull(dqc) && cond, code).otherwise(dqc)` references dqc twice,
    * and when Catalyst pushes a downstream predicate (e.g. `filter(keep)`)
    * through the ~12 stacked sticky projections it substitutes each layer's
    * definition into every reference above — 2 references per layer makes
    * the pushed predicate EXPONENTIAL in cascade depth (measured: a 2^10×
    * duplicated expression tree that blew janino's 64 KB method limit and
    * silently disabled whole-stage codegen for the entire row-local chain).
    * The single-reference form keeps substitution linear. Semantics are
    * identical: cond is null-guarded, and a null stamp falls through to the
    * old flag.
    */
  def sticky(df: DataFrame, cond: Column, code: Int, flagsKeep: Boolean): DataFrame = {
    val stamp = when(col(Doit) === 1 && coalesce(cond, lit(false)), lit(code))
    val newDqc =
      if (!flagsKeep) coalesce(col(Dqc), stamp)
      else
        // keep-listed rows are additionally overridable by this stage
        // (3 dqc references, but only metadata/plausibility use this path)
        when(col(Dqc) === FlagCodes.Keep && col(Doit) === 1 &&
            coalesce(cond, lit(false)), lit(code))
          .otherwise(coalesce(col(Dqc), stamp))
    df.withColumn(Dqc, newDqc)
  }
}

/** A row-local check: one null-guarded `when` projection. The whole family
  * fuses into a single whole-stage-codegen span — the Spark analog of
  * TITAN's plausibility family (SURVEY.md §2.2).
  */
final case class PredicateStage(
    name: String,
    code: Int,
    override val flagsKeep: Boolean,
    fail: CascadeConfig => Column) extends CheckStage {
  def transform(df: DataFrame, cfg: CascadeConfig): DataFrame =
    Stage.sticky(df, fail(cfg), code, flagsKeep)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text features shared by the quality-filter stages and the
  * driver-facing queries.
  *
  * Reference analog: TITAN computes derived per-row quantities once, before
  * the check cascade, and every check reuses them
  * (/root/reference/functions/misc/spatconv.r:10-17 — projected x,y computed
  * once; functions/checks/buddy.r:129-142 — 1-D vectors pulled out for fast
  * access). Here the derived quantities are text statistics.
  *
  * Every definition is deliberately restricted to operations with
  * bit-identical semantics in Spark SQL and DuckDB (the correctness oracle):
  * integer string lengths, leftmost non-overlapping `replace`, global
  * `regexp_replace` over explicit ASCII classes, and IEEE-754 double
  * arithmetic with guarded division. All are pure Catalyst expressions —
  * they fuse into whole-stage codegen; no UDFs in the hot path.
  */
object TextFeatures {

  /** English stopwords used by the stopword-ratio feature. Fixed, small,
    * inlined into the generated code (broadcast-equivalent).
    */
  val EnStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Character count (code points; fixtures are ASCII). */
  def nChars(t: Column): Column = length(t)

  /** Number of space characters. */
  def nSpaces(t: Column): Column =
    length(t) - length(replace(t, lit(" "), lit("")))

  /** Whitespace-token count: spaces + 1, or 0 for blank text. */
  def nWords(t: Column): Column =
    when(length(trim(t)) === 0, lit(0)).otherwise(nSpaces(t) + lit(1))

  /** ASCII-letter count. */
  def nAlpha(t: Column): Column =
    length(regexp_replace(t, "[^A-Za-z]", ""))

  /** ASCII-digit count. */
  def nDigits(t: Column): Column =
    length(regexp_replace(t, "[^0-9]", ""))

  /** Division guarded against zero/negative denominators (Spark and DuckDB
    * disagree on x/0; both agree on CASE WHEN).
    */
  def safeDiv(num: Column, den: Column): Column =
    when(den > 0, num.cast("double") / den.cast("double"))

  /** Mean word length = non-space chars / words. */
  def meanWordLen(t: Column): Column =
    safeDiv(nChars(t) - nSpaces(t), nWords(t))

  /** Fraction of characters that are neither letters, digits, spaces nor
    * newlines — the C4/Gopher "symbol-to-word"-style signal.
    */
  def symbolRatio(t: Column): Column =
    safeDiv(
      nChars(t) - nAlpha(t) - nDigits(t) - nSpaces(t)
        - (length(t) - length(replace(t, lit("\n"), lit("")))),
      nChars(t))

  /** Exact count of whole-word occurrences of `word` (space-delimited).
    * Computed with leftmost non-overlapping replace, identical in Spark and
    * DuckDB; adjacent repeats are undercounted the same way in both, which
    * is fine — the *definition* of the feature is this expression.
    */
  def wordOccurrences(t: Column, word: String): Column = {
    val padded  = concat(lit(" "), t, lit(" "))
    val needle  = " " + word + " "
    (length(padded) - length(replace(padded, lit(needle), lit("")))).cast("double") /
      lit(needle.length.toDouble)
  }

  /** Stopword ratio: total occurrences of the given stopwords / word count. */
  def stopwordRatio(t: Column, stopwords: Seq[String]): Column = {
    val hits = stopwords.map(w => wordOccurrences(t, w)).reduce(_ + _)
    when(nWords(t) > 0, hits / nWords(t).cast("double"))
  }

  /** Fraction of words that survive exact whole-word dedup — a repetition
    * signal (1.0 = all words distinct). Uses the split-array cardinality,
    * identical in Spark (`array_distinct`/`size`) and DuckDB
    * (`list_distinct`/`len`).
    */
  def distinctWordRatio(t: Column): Column =
    when(nWords(t) > 0,
      size(array_distinct(split(t, " "))).cast("double") / nWords(t).cast("double"))

  /** Fraction of characters that are ASCII digits. */
  def digitRatio(t: Column): Column = safeDiv(nDigits(t), nChars(t))

  // ---- single-pass variants over the TextStatsExpr struct ----
  // Numerically identical to the formulas above (see TextStatsExpr's parity
  // contract, pinned by FeatureSpec's TextStatsExpr parity test); the struct
  // is computed once per row by one native expression and the features
  // become integer arithmetic on its fields.

  /** The seven counts in one native pass (struct column). */
  def textStats(t: Column, stopwords: Seq[String] = EnStopwords): Column =
    org.apache.spark.sql.GraftColumns.of(
      TextStatsExpr(org.apache.spark.sql.GraftColumns.exprOf(t), stopwords))

  /** nWords from stats: blank text (only spaces) has 0 words. */
  def nWordsOf(st: Column): Column =
    when(st("nchars") === st("nspaces"), lit(0)).otherwise(st("nspaces") + lit(1))

  def meanWordLenOf(st: Column): Column =
    safeDiv(st("nchars") - st("nspaces"), nWordsOf(st))

  def symbolRatioOf(st: Column): Column =
    safeDiv(st("nchars") - st("nalpha") - st("ndigits") - st("nspaces") - st("nlines"),
      st("nchars"))

  def digitRatioOf(st: Column): Column = safeDiv(st("ndigits"), st("nchars"))

  /** Stopword ratio from the native stats struct. Each per-word hit count is
    * an exactly-integral double in the built-in formula, and summing exact
    * small integers as doubles is exact, so nstophits/nw is bit-identical to
    * `stopwordRatio` (and to the oracle's replace-chain form).
    */
  def stopwordRatioOf(st: Column, nw: Column): Column =
    when(nw > 0, st("nstophits").cast("double") / nw.cast("double"))

  /** Distinct-word ratio from the native stats struct (== the
    * split/array_distinct formula, see TextStatsExpr's parity contract).
    */
  def distinctWordRatioOf(st: Column, nw: Column): Column =
    when(nw > 0, st("ndistinct").cast("double") / nw.cast("double"))

  /** Canonical whitespace-normalized form used for fingerprinting. */
  def normalized(t: Column): Column =
    lower(trim(regexp_replace(t, "[ \\t\\n\\r]+", " ")))

  /** 128-bit content fingerprint (md5 hex) of the normalized text — the
    * document-identity key for exact dedup. md5 is available and identical
    * in Spark and DuckDB.
    */
  def fingerprint(t: Column): Column = md5(normalized(t))

  /** Polynomial rolling hash over whitespace tokens, mod 1e9+7 — the
    * incrementally-updatable document fingerprint (token stream folds left;
    * each step stays < 2^63, so the arithmetic is exact in any engine).
    */
  def rollingHash(t: Column): Column =
    aggregate(split(t, " "), lit(0L),
      (acc, w) =>
        (acc * lit(131L) + ascii(w).cast("long") * lit(31L) + length(w).cast("long"))
          % lit(1000000007L))
}

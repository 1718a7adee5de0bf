package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFeatures
import graft.model.{CascadeConfig, FlagCodes}

/** Ingest-time normalization: canonical columns, derived features, list
  * stamps. The reference does all of this in read_data_to_check.r —
  * per-provider column remap + rescale (:50-84), provider id (:91),
  * blacklist/keeplist stamps (:95-119), duplicate drop (:122-143), flag
  * vector allocation (:160). The Spark version is one `select` over the
  * scan plus null-guarded `when`s — all codegen, no shuffle.
  */
object Ingest {
  import Cols._

  /** Registered-domain from url — the "provider" key (TITAN prid,
    * read_data_to_check.r:91). Pure string ops, portable to the oracle.
    */
  def domainOf(url: Column): Column =
    regexp_replace(url, "^[a-z]+://", "")
      .pipe(h => substring_index(h, "/", 1))

  private implicit class Piper[A](private val a: A) extends AnyVal {
    def pipe[B](f: A => B): B = f(a)
  }

  /** Ensure canonical working columns exist; compute the feature pass once
    * (spatconv analog, misc/spatconv.r:10-17). Missing html/lang columns are
    * synthesized as nulls; `domain` is derived from url when absent.
    */
  def normalize(pages: DataFrame, cfg: CascadeConfig): DataFrame =
    features(normalizeCore(pages, cfg))

  /** [[normalize]] minus the derived-feature projection: the frame the
    * cascade numbers and fingerprints ([[fingerprinted]]) for the ingest
    * duplicate drop. The drop itself runs after the row-local
    * prefix (Cascade.runWith), so [[features]] and every row kernel of the
    * prefix also see the duplicate rows; features are deterministic per
    * row, so the survivors' values are the same either way.
    *
    * Input columns are matched to the canonical names with the session's
    * resolver (case-insensitively by default, as `withColumn` matches) and
    * renamed to the canonical spelling, so a `Lang` or `WARC_TS` column is
    * read, not shadowed by a synthesized null column or skipped by the
    * crawl-window filter and the recrawl keeper.
    */
  def normalizeCore(pages: DataFrame, cfg: CascadeConfig): DataFrame = {
    val resolve = pages.sparkSession.sessionState.conf.resolver
    val renames = pages.columns.flatMap(c => Canonical.find(k => k != c && resolve(k, c)).map(c -> _))
    var df = if (renames.isEmpty) pages else pages.withColumnsRenamed(renames.toMap)
    if (!df.columns.contains(Html))   df = df.withColumn(Html, lit(null).cast("binary"))
    if (!df.columns.contains(Lang))   df = df.withColumn(Lang, lit(null).cast("string"))
    if (!df.columns.contains(Domain)) df = df.withColumn(Domain, domainOf(col(Url)))
    if (!df.columns.contains(Dqc))    df = df.withColumn(Dqc, lit(null).cast("int"))

    // corpus scope: crawl-window predicate on warc_ts, the analog of the
    // reference cropping every run to a lon/lat extent before any check
    // (IO/read_data_to_check.r:234-249). Expressed as a plain scan filter so
    // Catalyst pushes it into the parquet scan (partition pruning on a
    // warc_ts-partitioned table: PushedFilters in `.explain`).
    if ((cfg.tsMin.nonEmpty || cfg.tsMax.nonEmpty) && df.columns.contains(WarcTs)) {
      cfg.tsMin.foreach(t => df = df.filter(col(WarcTs) >= lit(t)))
      cfg.tsMax.foreach(t => df = df.filter(col(WarcTs) < lit(t)))
    }

    // doit / prio from per-provider config (argparser_doit.r:4); rows from
    // doit == 0 providers are excluded entirely (buddy.r:118-121).
    def lookup(m: Map[String, Int], default: Int): Column =
      m.foldLeft(lit(default)) { case (acc, (d, v)) =>
        when(col(Domain) === d, lit(v)).otherwise(acc)
      }
    withCols(df, Seq(Doit -> lookup(cfg.doit, 1), Prio -> lookup(cfg.priorities, 0)))
      .filter(col(Doit) =!= 0)
  }

  /** The input columns ingest reads by name. */
  private val Canonical = Seq(Url, Text, Html, Lang, Domain, Dqc, WarcTs)

  /** withColumn-chain collapse: apply a SEQUENCE of (name, expr) pairs as
    * ONE Dataset operation with withColumn's exact semantics — an existing
    * name is replaced in place, a new name is appended in sequence order.
    * Names match the way the session resolves them (case-insensitively
    * under the default `spark.sql.caseSensitive=false`), as in withColumn.
    * Every Dataset operation analyzes the whole upstream logical plan
    * eagerly, so an n-column withColumn chain over the cascade's deep
    * prefix costs n full analyzer passes; this helper pays one. Expressions
    * must reference only columns of the INPUT frame (they cannot see each
    * other), which withColumn chains where later columns read earlier ones
    * must keep as separate layers.
    */
  private[graft] def withCols(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    val resolve = df.sparkSession.sessionState.conf.resolver
    require(cols.forall { case (n, _) => cols.count(p => resolve(p._1, n)) == 1 },
      "duplicate column names in withCols")
    val existing = df.columns
    val replaced = existing.map(c =>
      cols.find(p => resolve(p._1, c)).map { case (n, e) => e.as(n) }.getOrElse(col(c)))
    val appended = cols.collect { case (n, e) if !existing.exists(resolve(_, n)) => e.as(n) }
    df.select(replaced ++ appended: _*)
  }

  /** The one-time derived-feature projection every check reuses. The five
    * char-class counts come from ONE native single-pass expression
    * (TextStatsExpr); everything else is arithmetic over its fields, so the
    * whole feature pass costs one byte scan + one tokenization per row.
    */
  def features(df: DataFrame): DataFrame =
    derive(withCols(df, Seq(
      // Stats stays its own projection layer: the 7 derived features each
      // reference the struct COLUMN, so the byte-scan expression evaluates
      // once per row instead of once per feature
      Stats -> TextFeatures.textStats(col(Text)),
      // stamped here so every consumer of the feature frame (cascade,
      // sctFgDual pseudo-docs, single-stage queries) carries it; the
      // neighborhood family reads ONLY this hash, never the url string
      UrlHash -> xxhash64(col(Url)))))

  /** Scalar features from an existing stats struct (cheap; re-run after any
    * text rewrite that refreshed the struct, e.g. the backfill). Every
    * feature — including the stopword and distinct-word ratios — is now
    * plain arithmetic over the struct fields: the giant replace/split
    * expression trees that used to blow past janino's 64 KB method limit
    * (killing whole-stage codegen for the fused row-local chain) are gone.
    * One projection ([[withCols]]): all seven features read only the stats
    * struct, so they need no intermediate layers.
    */
  def derive(df: DataFrame): DataFrame = {
    val st = col(Stats)
    val nw = TextFeatures.nWordsOf(st)
    withCols(df, Seq(
      NChars -> st("nchars"),
      NWords -> nw,
      MeanWordLen -> TextFeatures.meanWordLenOf(st),
      SymbolRatio -> TextFeatures.symbolRatioOf(st),
      StopRatio -> TextFeatures.stopwordRatioOf(st, nw),
      DistinctWordRatio -> TextFeatures.distinctWordRatioOf(st, nw),
      DigitRatio -> TextFeatures.digitRatioOf(st)))
  }

  /** Blacklist (999) then keeplist (990) stamps — blacklist wins, keep only
    * stamps still-null rows, exactly as the reference stamps them in read
    * order (read_data_to_check.r:95-119). Small lists are inlined literals;
    * file-backed lists become broadcast left-semi joins (same semantics).
    */
  def stampLists(df: DataFrame, cfg: CascadeConfig): DataFrame = {
    val black =
      if (cfg.blacklistDomains.isEmpty) lit(false)
      else col(Domain).isin(cfg.blacklistDomains.toSeq: _*)
    val keep =
      if (cfg.keepDomains.isEmpty) lit(false)
      else col(Domain).isin(cfg.keepDomains.toSeq: _*)
    // single dqc reference (coalesce form) — see Stage.sticky's scaladoc on
    // why multi-reference flag rewrites explode pushed-down predicates
    df.withColumn(Dqc,
      coalesce(col(Dqc),
        when(black, lit(FlagCodes.Blacklist)).when(keep, lit(FlagCodes.Keep))))
  }

  /** The ingest duplicate drop's content key: the 16 md5 bytes of the
    * normalized text (not their 32 hex chars: the cascade stores it in
    * its checkpoints), null for blank text. Blank text is NOT deduplicable
    * content: those rows carry their payload in html (pending backfill) or
    * are metadata-check fodder — collapsing every empty-text row to one
    * "keeper" would silently delete them. A null fingerprint never matches
    * the keeper semi-join, so they bypass the drop.
    */
  private[graft] val Fp = "_fp"

  private[graft] def fingerprinted(df: DataFrame): DataFrame = {
    val hasContent = col(Text).isNotNull && length(trim(col(Text))) > 0
    df.withColumn(Fp, when(hasContent, unhex(TextFeatures.fingerprint(col(Text)))))
  }

  /** The rows of a [[fingerprinted]] frame that survive the ingest
    * duplicate drop, without the fingerprint — the reference removes
    * duplicated stations BEFORE any check runs so duplicates never pollute
    * neighborhood statistics (read_data_to_check.r:122-143, keep the
    * first). Keeper = minimum (url, warc_ts, `tiebreak`) per fingerprint:
    * aggregation + semi-join, no window, skew-safe (the keeper table has
    * one row per distinct content). The timestamp matters for the most
    * common crawl duplicate — recrawls of one page share the url, so a
    * url-only keeper would keep every recrawl; here exactly the earliest
    * crawl survives. `tiebreak` is a unique per-row column that is frozen
    * wherever the frame is read more than once (a stored
    * `monotonically_increasing_id`): of rows equal in all of (fingerprint,
    * url, warc_ts) — interchangeable modulo raw html bytes — it keeps one,
    * arbitrary but deterministic, and makes the keeper unique, so the
    * semi-join alone is exact. Neither exchange carries a payload column:
    * the keeper aggregate reads (fingerprint, url, warc_ts, tiebreak), and
    * a consumer that reads only narrow columns of the result prunes the
    * semi-join's probe side to them.
    */
  private[graft] def keepFirst(df: DataFrame, tiebreak: String): DataFrame = {
    val resolve = df.sparkSession.sessionState.conf.resolver
    val keyCols = (if (df.columns.exists(resolve(_, WarcTs))) Seq(Url, WarcTs) else Seq(Url)) :+
      tiebreak
    val keepers = df.filter(col(Fp).isNotNull).groupBy(col(Fp))
      .agg(min(struct(keyCols.map(col): _*)).as("_k"))
      .select(col(Fp), col("_k")(tiebreak).as(tiebreak))
    df.join(keepers, Seq(Fp, tiebreak), "left_semi").unionByName(df.filter(col(Fp).isNull))
      .drop(Fp)
  }

  /** Ingest-time exact duplicate drop over a normalized frame: number the
    * rows, fingerprint them and [[keepFirst]]. [[keepFirst]] reads the
    * numbered frame in three branches, and a row number derived again per
    * branch names the same row only if the input's row order is stable
    * (it is not after a shuffle), so the frame is frozen first: a lazy
    * local checkpoint, stored by the first action on the result, with one
    * fingerprint and one row number per row. The cascade runs the same
    * steps, but applies [[keepFirst]] after its row-local prefix
    * (Cascade.runWith).
    */
  def dropDuplicatePages(df: DataFrame): DataFrame = {
    val rowNo = "_row"
    keepFirst(fingerprinted(df.withColumn(rowNo, monotonically_increasing_id()))
      .localCheckpoint(eager = false), rowNo).drop(rowNo)
  }

  /** Per-provider ingest shaping + union — the reference's per-provider
    * header remap and affine value rescale applied at read time, before the
    * frames are unioned into the one working table
    * (read_data_to_check.r:50-84). Each (frame, spec) pair is renamed to
    * the canonical schema, numeric columns rescaled offset + cfact·x, and
    * the results unioned by name (missing columns synthesized as nulls by
    * `normalize` downstream).
    */
  def applySourceSpec(df: DataFrame, spec: graft.model.SourceSpec): DataFrame = {
    var out = spec.remap.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
    spec.affine.foreach { case (c, (offset, cfact)) =>
      if (out.columns.contains(c))
        out = out.withColumn(c, lit(offset) + lit(cfact) * col(c).cast("double"))
    }
    out
  }

  def unionSources(sources: Seq[(DataFrame, graft.model.SourceSpec)]): DataFrame =
    sources.map { case (df, spec) => applySourceSpec(df, spec) }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Large-list variant: broadcast joins against DataFrames of (domain) or
    * (url) keys — the scan-time form the reference applies via sourceId
    * files, blacklist AND keeplist (read_data_to_check.r:95-119,212-222).
    * Blacklist wins; keep only stamps still-null rows, exactly like the
    * inline `stampLists`. The broadcast hint is correct here: a curated
    * block/keep list is human-maintained (≤ millions of keys), never
    * corpus-sized.
    */
  def stampListsJoin(df: DataFrame, blacklist: DataFrame, keyCol: String,
                     keeplist: Option[DataFrame] = None): DataFrame = {
    val marked0 = df.join(
      broadcast(blacklist.select(col(keyCol)).distinct()
        .withColumn("__black", lit(1))),
      Seq(keyCol), "left")
    val marked = keeplist.fold(marked0.withColumn("__keep", lit(null).cast("int")))(k =>
      marked0.join(
        broadcast(k.select(col(keyCol)).distinct().withColumn("__keep", lit(1))),
        Seq(keyCol), "left"))
    marked.withColumn(Dqc,
        coalesce(col(Dqc),
          when(col("__black") === 1, lit(FlagCodes.Blacklist))
            .when(col("__keep") === 1, lit(FlagCodes.Keep))))
      .drop("__black", "__keep")
  }
}

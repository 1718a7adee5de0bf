package graft

import graft.model.CascadeConfig
import graft.functions.TextFeatures

/** DuckDB-dialect SQL equivalents of the engine's checks, generated from the
  * same config the Spark side uses so thresholds can never drift. Every
  * fragment mirrors the corresponding Catalyst expression in
  * graft.functions.TextFeatures / graft.stages operation-for-operation
  * (same integer arithmetic, same cast points, same IEEE double operation
  * order), so results are bit-identical between Spark and the oracle.
  */
object OracleSql {

  // ---- text features over documents.text (mirror TextFeatures) ----
  val nc     = "length(text)"
  val nsp    = "(length(text) - length(replace(text, ' ', '')))"
  val nw     = s"(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE $nsp + 1 END)"
  val nalpha = "length(regexp_replace(text, '[^A-Za-z]', '', 'g'))"
  val ndig   = "length(regexp_replace(text, '[^0-9]', '', 'g'))"
  val nnl    = "(length(text) - length(replace(text, chr(10), '')))"
  val mwl    = s"(CASE WHEN $nw > 0 THEN CAST($nc - $nsp AS DOUBLE) / CAST($nw AS DOUBLE) END)"
  val symr   = s"(CASE WHEN $nc > 0 THEN CAST($nc - $nalpha - $ndig - $nsp - $nnl AS DOUBLE) / CAST($nc AS DOUBLE) END)"

  def wordOcc(w: String): String = {
    val n = w.length + 2
    s"(CAST(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', '')) AS DOUBLE) / $n.0)"
  }
  val stopHits: String = TextFeatures.EnStopwords.map(wordOcc).mkString("(", " + ", ")")
  val stopr: String    = s"(CASE WHEN $nw > 0 THEN $stopHits / CAST($nw AS DOUBLE) END)"

  val normText    = "lower(trim(regexp_replace(text, '[ \\t\\n\\r]+', ' ', 'g')))"
  val fingerprint = s"md5($normText)"
  val dwr = s"(CASE WHEN $nw > 0 THEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / CAST($nw AS DOUBLE) END)"

  // ---- row-local check predicates (mirror RowChecks) ----
  def metaFail(c: CascadeConfig): String =
    s"(text IS NULL OR length(trim(text)) = 0 OR $nc < ${c.minChars} OR $nc > ${c.maxChars})"

  def plausFail(c: CascadeConfig): String =
    s"($nw < ${c.minWords} OR $nw > ${c.maxWords} OR $mwl < ${c.meanWordLen.min} OR " +
      s"$mwl > ${c.meanWordLen.max} OR $symr > ${c.maxSymbolRatio} OR " +
      s"$dwr < ${c.minDistinctWordRatio})"

  def langBoundsFail(c: CascadeConfig): String = {
    val thresh = c.langStopMin.foldLeft("CAST('-infinity' AS DOUBLE)") {
      case (acc, (lang, min)) => s"(CASE WHEN lang = '$lang' THEN $min ELSE $acc END)"
    }
    s"($stopr < $thresh)"
  }

  def langMismatchFail(c: CascadeConfig): String =
    s"($stopr >= ${c.langMismatchMinConf} AND lang <> 'en')"

  // ---- single-check query oracles over the documents table ----
  private def singleCheck(fail: String, code: Int): String =
    s"SELECT doc_id, CASE WHEN $fail THEN $code END AS dqc FROM documents ORDER BY doc_id"

  def qMetadata(c: CascadeConfig): String     = singleCheck(metaFail(c), 901)
  def qPlausibility(c: CascadeConfig): String = singleCheck(plausFail(c), 501)
  def qLangBounds(c: CascadeConfig): String   = singleCheck(langBoundsFail(c), 502)
  def qLangMismatch(c: CascadeConfig): String = singleCheck(langMismatchFail(c), 902)

  /** Toxicity lexicon regex — same literal pattern string as the engine
    * (graft.functions.ScrubPatterns.ToxReStr; Java regex ∩ RE2 subset).
    */
  val toxRe: String = graft.functions.ScrubPatterns.ToxReStr

  /** 504 failure predicate (mirrors RowChecks.toxicity: strict >, hits and
    * words both cast to DOUBLE before the compare).
    */
  def toxFail(c: CascadeConfig): String =
    s"($nw > 0 AND CAST(len(regexp_extract_all(text, '$toxRe')) AS DOUBLE) > " +
      s"${c.maxToxicFrac} * CAST($nw AS DOUBLE))"

  /** q_check_toxicity twin: the driver testdata contains no lexicon terms
    * (verified: 0 hits over sf0.1), so — like q_scrub's synthetic PII
    * suffix — the query plants a deterministic per-doc dose of one lexicon
    * word before checking the density ceiling. doc_id % 13 gives doses 0–12
    * against word counts 10–99, so both outcomes occur at any SF.
    */
  def qToxicityCheck(c: CascadeConfig): String =
    s"""WITH t AS (SELECT doc_id,
       |  text || repeat(' ${graft.functions.ScrubPatterns.ToxWords.head}', CAST(doc_id % 13 AS INT)) AS text
       |  FROM documents)
       |SELECT doc_id, CASE WHEN ${toxFail(c)} THEN 504 END AS dqc
       |FROM t ORDER BY doc_id""".stripMargin

  /** Buddy-check z-score machinery over an alive-filtered population.
    * `alive` is a boolean SQL expression in scope of the joined row;
    * `x` names the statistic column.
    */
  private def buddyStats(src: String, alive: String, x: String = "nw"): String =
    s"""SELECT source,
       |  CAST(SUM(CASE WHEN $alive THEN CAST($x AS BIGINT) END) AS BIGINT) AS s,
       |  CAST(SUM(CASE WHEN $alive THEN CAST($x AS BIGINT) * CAST($x AS BIGINT) END) AS BIGINT) AS q,
       |  COUNT(CASE WHEN $alive THEN 1 END) AS n
       |FROM $src GROUP BY source""".stripMargin

  /** mean / sd / z computed exactly as Neighborhood.buddyRound does. */
  def buddyMeanX(x: String): String =
    s"(CAST(s - CAST($x AS BIGINT) AS DOUBLE) / CAST(n - 1 AS DOUBLE))"
  def buddyVrX(x: String): String =
    s"((CAST(q - CAST($x AS BIGINT) * CAST($x AS BIGINT) AS DOUBLE) - " +
      s"CAST(n - 1 AS DOUBLE) * mean * mean) / CAST(n - 2 AS DOUBLE))"
  val buddyMean: String = buddyMeanX("nw")
  val buddyVr: String   = buddyVrX("nw")

  /** LOO sd with the optional σ floor — mirrors buddyRound's `floored`
    * (byte-identical SQL when the floor is off, the shipped oracle case).
    */
  def buddySdSql(c: CascadeConfig, x: String): String = {
    val raw = s"sqrt(greatest(${buddyVrX(x)}, 0.0))"
    if (c.buddySdFloor > 0) s"greatest($raw, ${c.buddySdFloor})" else raw
  }

  /** The buddy statistic: raw word count, or the fixed-point log1p
    * (boxcox analog) when the config enables it. Empirically bit-exact
    * cross-engine: DuckDB round(ln(1+n)·1000) == Spark round(log1p(n)·1000)
    * for every n ≤ 10⁶ (verified exhaustively on this host).
    */
  def buddyXSql(c: CascadeConfig, nwExpr: String): String =
    if (c.buddyLog1p)
      s"CAST(round(ln(1 + CAST($nwExpr AS DOUBLE)) * 1000.0) AS BIGINT)"
    else s"CAST($nwExpr AS BIGINT)"

  /** The one configuration of a check's `*Params` list. The single-pass
    * oracles model exactly one configuration (the `j`-loop oracle unrolls
    * its list explicitly), so any other length fails loudly here instead of
    * being silently truncated.
    */
  private def single[P](params: Seq[P], name: String): P = {
    require(params.size == 1,
      s"$name: this oracle models exactly one configuration, got ${params.size}")
    params.head
  }

  def qBuddy(c: CascadeConfig): String = {
    val b = single(c.buddyParams, "buddyParams")
    s"""WITH f AS (SELECT doc_id, source, ${buddyXSql(c, nw)} AS nw FROM documents),
       |st AS (${buddyStats("f", "TRUE")}),
       |j AS (SELECT f.doc_id, f.nw, st.s, st.q, st.n FROM f LEFT JOIN st USING (source)),
       |m AS (SELECT doc_id, nw, s, q, n, $buddyMean AS mean FROM j),
       |v AS (SELECT doc_id, nw, n, mean, ${buddySdSql(c, "nw")} AS sd FROM m)
       |SELECT doc_id, CASE WHEN n - 1 >= ${b.minN} AND sd > 0.0 AND
       |  abs((CAST(nw AS DOUBLE) - mean) / sd) > ${b.z} THEN 10 END AS dqc
       |FROM v ORDER BY doc_id""".stripMargin
  }

  /** One pass of the unrolled multi-pass buddy oracle: references are
    * alive rows satisfying `refExtra`; rows stamped are alive rows
    * satisfying `chkExtra` (SQL predicates over the row's `prio`).
    */
  final case class BuddyPassSql(minN: Int, z: Double,
                                refExtra: String = "TRUE",
                                chkExtra: String = "TRUE")

  /** documents-table column for a buddy key name (domain ↔ source in the
    * Docs.pages adapter; lang is carried verbatim). */
  private def keyColSql(key: String): String =
    if (key == "domain") "source" else key

  /** The priority-class CASE chain, generated from the same map
    * Ingest.normalize folds into its `prio` column. */
  private def prioSql(c: CascadeConfig): String =
    c.priorities.foldLeft("0") { case (acc, (d, v)) =>
      s"(CASE WHEN source = '$d' THEN $v ELSE $acc END)"
    }

  /** Unrolled multi-pass buddy check: each pass recomputes the group
    * statistics over still-alive rows (so later passes see earlier flags,
    * exactly like Neighborhood.buddyOnce's fold) and stamps sticky code 10.
    * Shared by the `j`-loop oracle (passes = configurations) and the
    * priority-rounds oracle (passes = descending classes).
    */
  def qBuddyPasses(c: CascadeConfig, passes: Seq[BuddyPassSql]): String = {
    val k = keyColSql(c.buddyKeys.head)
    val base = s"""r0 AS (SELECT doc_id, $k AS k, ${prioSql(c)} AS prio,
                 |  ${buddyXSql(c, nw)} AS nw, CAST(NULL AS INT) AS fl FROM documents)""".stripMargin
    val ctes = passes.zipWithIndex.map { case (p, i) =>
      val alive = s"(fl IS NULL AND (${p.refExtra}))"
      s"""st$i AS (SELECT k,
         |  CAST(SUM(CASE WHEN $alive THEN CAST(nw AS BIGINT) END) AS BIGINT) AS s,
         |  CAST(SUM(CASE WHEN $alive THEN CAST(nw AS BIGINT) * CAST(nw AS BIGINT) END) AS BIGINT) AS q,
         |  COUNT(CASE WHEN $alive THEN 1 END) AS n
         |  FROM r$i GROUP BY k),
         |j$i AS (SELECT doc_id, k, prio, nw, fl, s, q, n FROM r$i LEFT JOIN st$i USING (k)),
         |m$i AS (SELECT doc_id, k, prio, nw, fl, s, q, n, ${buddyMeanX("nw")} AS mean FROM j$i),
         |v$i AS (SELECT *, ${buddySdSql(c, "nw")} AS sd FROM m$i),
         |r${i + 1} AS (SELECT doc_id, k, prio, nw,
         |  (CASE WHEN fl IS NOT NULL THEN fl
         |        WHEN (${p.chkExtra}) AND n - 1 >= ${p.minN} AND sd > 0.0 AND
         |          abs((CAST(nw AS DOUBLE) - mean) / sd) > ${p.z} THEN 10 END) AS fl
         |  FROM v$i)""".stripMargin
    }
    s"""WITH $base,
       |${ctes.mkString(",\n")}
       |SELECT doc_id, fl AS dqc FROM r${passes.length} ORDER BY doc_id""".stripMargin
  }

  /** The multi-test-configuration `j` loop (buddy.r:101) as an oracle:
    * one unrolled pass per configuration in order. */
  def qBuddyMulti(c: CascadeConfig): String =
    qBuddyPasses(c, c.buddyParams.map(p => BuddyPassSql(p.minN, p.z)))

  /** Priority rounds (buddy.r:112-155) as an oracle: descending classes,
    * each round's references restricted to classes >= the round's. */
  def qBuddyPrio(c: CascadeConfig): String = {
    val b = single(c.buddyParams, "buddyParams")
    val classes = (c.priorities.values.toSet + 0).toSeq.sorted(Ordering[Int].reverse)
    qBuddyPasses(c, classes.map(p =>
      BuddyPassSql(b.minN, b.z, s"prio >= $p", s"prio = $p")))
  }

  /** Central-order-statistic machinery mirroring Neighborhood.sctOnce: the
    * three values at 0-based ranks L, L+1, L+2 (L = floor((n−2)/2)) of
    * column `v` per `key` group over `src` (null v excluded) — enough for
    * the interpolated population median AND the per-row leave-one-out
    * median. `p` prefixes the generated CTE names.
    */
  private def orderStatsCtes(p: String, src: String, key: String, v: String,
                             where: String = "TRUE"): String =
    s"""${p}w AS (SELECT $key, $v AS _v,
       |  row_number() OVER (PARTITION BY $key ORDER BY $v) - 1 AS rk
       |  FROM $src WHERE ($where) AND $v IS NOT NULL),
       |${p}c AS (SELECT $key, COUNT(*) AS n FROM ${p}w GROUP BY $key),
       |${p}o AS (SELECT ${p}w.$key,
       |  MAX(CASE WHEN rk = CAST(floor((n - 2) / 2.0) AS BIGINT) THEN _v END) AS m0,
       |  MAX(CASE WHEN rk = CAST(floor((n - 2) / 2.0) AS BIGINT) + 1 THEN _v END) AS m1,
       |  MAX(CASE WHEN rk = CAST(floor((n - 2) / 2.0) AS BIGINT) + 2 THEN _v END) AS m2,
       |  ANY_VALUE(n) AS n
       |  FROM ${p}w JOIN ${p}c USING ($key) GROUP BY ${p}w.$key)""".stripMargin

  /** Leave-one-out median of the group after removing one occurrence of x
    * (see Neighborhood.sctOnce for the derivation). */
  private def looMedSql(x: String, m0: String, m1: String, m2: String, n: String): String =
    s"""(CASE WHEN $n % 2 = 0
       |  THEN CASE WHEN $x <= $m0 THEN CAST($m1 AS DOUBLE) ELSE CAST($m0 AS DOUBLE) END
       |  ELSE CASE WHEN $x <= $m0 THEN CAST($m1 + $m2 AS DOUBLE) / 2.0
       |            WHEN $x >= $m2 THEN CAST($m0 + $m1 AS DOUBLE) / 2.0
       |            ELSE CAST($m0 + $m2 AS DOUBLE) / 2.0 END END)""".stripMargin
      .replaceAll("\n", " ")

  /** 2·populationMedian (integral): ranks ⌊(n−1)/2⌋,⌊n/2⌋ = (m0,m1) for even
    * n, (m1,m1) for odd. */
  private def popMedSumSql(m0: String, m1: String, n: String): String =
    s"(CASE WHEN $n % 2 = 0 THEN $m0 + $m1 ELSE $m1 + $m1 END)"

  def qSct(c: CascadeConfig): String = {
    val p = single(c.sctParams, "sctParams")
    s"""WITH f AS (SELECT doc_id, source, CAST($nw AS BIGINT) AS x FROM documents),
       |${orderStatsCtes("s", "f", "source", "x")},
       |j AS (SELECT f.doc_id, f.source, f.x, so.n,
       |  ${popMedSumSql("so.m0", "so.m1", "so.n")} AS pms,
       |  ${looMedSql("f.x", "so.m0", "so.m1", "so.m2", "so.n")} AS loomed
       |  FROM f LEFT JOIN so USING (source)),
       |d AS (SELECT doc_id, source, x, n, loomed, abs(x * 2 - pms) AS d2 FROM j),
       |${orderStatsCtes("dd", "d", "source", "d2")},
       |md AS (SELECT source,
       |  CAST(${popMedSumSql("m0", "m1", "n")} AS DOUBLE) / 4.0 AS mad FROM ddo)
       |SELECT doc_id, CASE WHEN n - 1 >= ${p.minN} AND mad > 0.0 AND
       |  abs(CAST(x AS DOUBLE) - loomed) / (1.4826 * mad) > ${p.z} THEN 1 END AS dqc
       |FROM d LEFT JOIN md USING (source) ORDER BY doc_id""".stripMargin
  }

  /** Two unrolled iterations of the sct check (mirrors Cascade.iterate with
    * maxIter = 2 around Neighborhood.sctOnce): round 1 over everything,
    * round 2 recomputes the order statistics and MAD over the still-alive
    * rows only — removing an outlier changes its neighbors' statistics, so
    * round 2 can flag rows round 1 kept (reference: buddy.r:97,209; the
    * test inis iterate every spatial check, test/ini/ta_sct.ini:7).
    */
  def qSctIter(c: CascadeConfig): String = {
    val p = single(c.sctParams, "sctParams")
    s"""WITH f AS (SELECT doc_id, source, CAST($nw AS BIGINT) AS x FROM documents),
       |${orderStatsCtes("a", "f", "source", "x")},
       |j1 AS (SELECT f.doc_id, f.source, f.x, ao.n,
       |  ${popMedSumSql("ao.m0", "ao.m1", "ao.n")} AS pms,
       |  ${looMedSql("f.x", "ao.m0", "ao.m1", "ao.m2", "ao.n")} AS loomed
       |  FROM f LEFT JOIN ao USING (source)),
       |e1 AS (SELECT doc_id, source, x, n, loomed, abs(x * 2 - pms) AS d2 FROM j1),
       |${orderStatsCtes("ad", "e1", "source", "d2")},
       |md1 AS (SELECT source, CAST(${popMedSumSql("m0", "m1", "n")} AS DOUBLE) / 4.0 AS mad FROM ado),
       |r1 AS (SELECT e1.doc_id, e1.source, e1.x,
       |  CASE WHEN e1.n - 1 >= ${p.minN} AND mad > 0.0 AND
       |    abs(CAST(e1.x AS DOUBLE) - e1.loomed) / (1.4826 * mad) > ${p.z} THEN 1 END AS q1
       |  FROM e1 LEFT JOIN md1 USING (source)),
       |${orderStatsCtes("b", "r1", "source", "x", "q1 IS NULL")},
       |j2 AS (SELECT r1.doc_id, r1.source, r1.x, r1.q1, bo.n,
       |  ${popMedSumSql("bo.m0", "bo.m1", "bo.n")} AS pms,
       |  ${looMedSql("r1.x", "bo.m0", "bo.m1", "bo.m2", "bo.n")} AS loomed
       |  FROM r1 LEFT JOIN bo USING (source)),
       |e2 AS (SELECT doc_id, source, x, q1, n, loomed, abs(x * 2 - pms) AS d2 FROM j2),
       |${orderStatsCtes("bd", "e2", "source", "d2", "q1 IS NULL")},
       |md2 AS (SELECT source, CAST(${popMedSumSql("m0", "m1", "n")} AS DOUBLE) / 4.0 AS mad FROM bdo)
       |SELECT doc_id, CASE WHEN q1 = 1 THEN 1
       |  WHEN q1 IS NULL AND n - 1 >= ${p.minN} AND mad > 0.0 AND
       |    abs(CAST(x AS DOUBLE) - loomed) / (1.4826 * mad) > ${p.z} THEN 1 END AS dqc
       |FROM e2 LEFT JOIN md2 USING (source) ORDER BY doc_id""".stripMargin
  }

  def qDual(c: CascadeConfig): String = {
    val p = single(c.dualParams, "dualParams")
    s"""WITH f AS (SELECT doc_id, source,
       |  CAST($nw > ${p.eventWords} AS INT) AS ev FROM documents),
       |st AS (SELECT source, CAST(SUM(CAST(ev AS BIGINT)) AS BIGINT) AS evs, COUNT(*) AS evn
       |       FROM f GROUP BY source),
       |j AS (SELECT f.doc_id, f.ev, st.evs, st.evn,
       |  CAST(st.evs - CAST(f.ev AS BIGINT) AS DOUBLE) / CAST(st.evn - 1 AS DOUBLE) AS frac
       |  FROM f LEFT JOIN st USING (source))
       |SELECT doc_id, CASE WHEN evn - 1 >= ${p.minN} AND
       |  ((frac >= ${p.hiFrac} AND ev = 0) OR (frac <= ${p.loFrac} AND ev = 1))
       |  THEN 3 END AS dqc
       |FROM j ORDER BY doc_id""".stripMargin
  }

  def qIsolation(c: CascadeConfig): String =
    s"""WITH st AS (SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang)
       |SELECT doc_id, CASE WHEN COALESCE(n, 0) - 1 < ${c.isolationMinN} THEN 800 END AS dqc
       |FROM documents LEFT JOIN st USING (source, lang) ORDER BY doc_id""".stripMargin

  // ---- dedup / similarity operator oracles ----

  /** Distinct word-n-gram shingle CTE over documents (mirrors Dedup.shingles). */
  def shinglesCte(n: Int): String =
    s"""sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(string_split(text, ' ')) >= $n
       |         THEN list_transform(range(0, len(string_split(text, ' ')) - $n + 1),
       |              i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + $n), ' '))
       |         ELSE CAST([] AS VARCHAR[]) END)) AS shingle
       |  FROM documents)""".stripMargin

  def qDedupJaccard(n: Int, threshold: Double, maxShingleDf: Int = 1000000): String = {
    val jac = "CAST(inter AS DOUBLE) / CAST(ca.card + cb.card - inter AS DOUBLE)"
    s"""WITH ${shinglesCte(n).replace("sh AS", "sh0 AS")},
       |ok AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= $maxShingleDf),
       |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN ok USING (shingle)),
       |cards AS (SELECT doc_id, COUNT(*) AS card FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |          FROM sh a JOIN sh b USING (shingle)
       |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, inter, ca.card AS card_a, cb.card AS card_b, $jac AS jaccard
       |FROM inter JOIN cards ca ON ca.doc_id = id_a JOIN cards cb ON cb.doc_id = id_b
       |WHERE $jac >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Mirrors Dedup.minhashLsh: bands·rowsPerBand min-hashes, band key =
    * '#'-joined hashes of the band, hot buckets above `maxBucketSize`
    * dropped before the self-join, DISTINCT candidate pairs.
    */
  def qDedupMinhash(n: Int, bands: Int, rowsPerBand: Int, maxBucketSize: Int): String = {
    val sigCols = (0 until bands * rowsPerBand)
      .map(i => s"min(md5('$i#' || shingle)) AS mh$i").mkString(", ")
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until rowsPerBand)
        .map(r => s"mh${b * rowsPerBand + r}").mkString(" || '#' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH ${shinglesCte(n)},
       |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |keyed AS ($bandSelects),
       |ok AS (SELECT band, bkey FROM keyed GROUP BY band, bkey
       |       HAVING count(*) <= $maxBucketSize),
       |pruned AS (SELECT k.* FROM keyed k JOIN ok USING (band, bkey))
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM pruned a JOIN pruned b USING (band, bkey)
       |WHERE a.doc_id < b.doc_id ORDER BY id_a, id_b""".stripMargin
  }

  private def hexNibCase(str: String, pos: Int): String =
    "0123456789abcdef".zipWithIndex
      .map { case (c, v) => s"WHEN '$c' THEN $v" }
      .mkString(s"(CASE substring($str, $pos, 1) ", " ", " ELSE 0 END)")

  /** Shared 64-bit SimHash signature CTEs (mirrors Dedup.simhash64): per
    * doc, four 16-bit words sh0..sh3 from the first 16 nibbles of each
    * token's md5. Emits CTEs tok64/nib64/s64/sig64.
    */
  val simhash64Ctes: String = {
    val nibs = (0 until 16).map(j => s"${hexNibCase("h", j + 1)} AS nib$j").mkString(", ")
    val sums = (0 until 64).map { b =>
      val div = 1 << (b % 4)
      s"CAST(SUM((CAST(floor(nib${b / 4} / $div) AS INT) % 2) * 2 - 1) AS BIGINT) AS s$b"
    }.mkString(", ")
    val words = (0 until 4).map { j =>
      (0 until 16)
        .map(b0 => s"CASE WHEN s${16 * j + b0} > 0 THEN ${1 << b0} ELSE 0 END")
        .mkString("(", " + ", s") AS sh$j")
    }.mkString(", ")
    s"""tok64 AS (SELECT doc_id, md5(w) AS h FROM
       |  (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0),
       |nib64 AS (SELECT doc_id, $nibs FROM tok64),
       |s64 AS (SELECT doc_id, $sums FROM nib64 GROUP BY doc_id),
       |sig64 AS (SELECT doc_id, $words FROM s64)""".stripMargin
  }

  def qSimhash64: String =
    s"""WITH $simhash64Ctes
       |SELECT doc_id, sh0, sh1, sh2, sh3 FROM sig64 ORDER BY doc_id""".stripMargin

  def qSimhashPairs64(maxHamming: Int): String = {
    val bandJoins = (0 until 4).map(j =>
      s"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig64 a JOIN sig64 b ON a.sh$j = b.sh$j WHERE a.doc_id < b.doc_id"
    ).mkString(" UNION ALL ")
    val ham = (0 until 4).map(j => s"bit_count(xor(sa.sh$j, sb.sh$j))").mkString(" + ")
    s"""WITH $simhash64Ctes,
       |cands AS (SELECT DISTINCT id_a, id_b FROM ($bandJoins)),
       |h AS (SELECT id_a, id_b, CAST(($ham) AS INT) AS hamming
       |      FROM cands JOIN sig64 sa ON sa.doc_id = id_a JOIN sig64 sb ON sb.doc_id = id_b)
       |SELECT id_a, id_b, hamming FROM h WHERE hamming <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Cross-field (301) oracle: html synthesized per doc_id to disagree with
    * text on a deterministic subset (mirrors the q_check_crossfield query's
    * html override; octet_length(BLOB) = Spark's length(binary)).
    */
  def qCrossField: String =
    s"""WITH m AS (SELECT doc_id, text,
       |  CASE WHEN doc_id % 3 = 0
       |       THEN encode(substr(text, 1, CAST(doc_id % 120 AS INT)))
       |       ELSE encode(text) END AS html
       |  FROM documents)
       |SELECT doc_id, CASE WHEN html IS NOT NULL AND octet_length(html) > 0 AND
       |  (text IS NULL OR length(text) > octet_length(html)) THEN 301 END AS dqc
       |FROM m ORDER BY doc_id""".stripMargin

  /** Multimodal stub embedding (mirrors Multimodal.mmFeatures over the
    * synthetic payload): per frame f and dim i, the feature is the first 4
    * md5 nibbles of (i || '#' || md5(chunk_hex)) over 65536; the document
    * embedding is the per-dim mean over the 4 frames. Every value is a
    * dyadic rational (k/2^16 summed then /4), so addition order is
    * irrelevant and the comparison is bit-exact.
    */
  /** q_mm_embed twin: the engine really encodes a w×h PNG per doc (pixels =
    * PngCodec.synthPixel) and really decodes it through javax.imageio; PNG
    * is lossless, so this oracle recomputes the identical pixel function
    * directly and pools the same integer band sums — decode(encode(p)) == p
    * makes the two sides bit-comparable without DuckDB ever parsing PNG.
    * The normalizer w·h·(768/nBands) is an exactly-representable integer,
    * so the single IEEE division matches the engine bit-for-bit.
    */
  def qMmEmbed(w: Int = 16, h: Int = 16, nBands: Int = 8): String = {
    val denom = w * h * (768 / nBands)
    val pivots = (0 until nBands)
      .map(i => s"MAX(CASE WHEN band = $i THEN CAST(bs AS DOUBLE) / $denom.0 END) AS emb_$i")
      .mkString(", ")
    s"""WITH px AS (SELECT doc_id, x, y,
       |  (7*doc_id + 3*x + 5*y) % 256 AS r,
       |  (11*doc_id + 13*x + 17*y) % 256 AS g,
       |  (19*doc_id + 23*x + 29*y) % 256 AS b
       |  FROM documents, range(0, $w) tx(x), range(0, $h) ty(y)),
       |s AS (SELECT doc_id, CAST(y * $nBands // $h AS INT) AS band,
       |  SUM(r + g + b) AS bs FROM px GROUP BY doc_id, band)
       |SELECT doc_id, CAST($w AS INT) AS width, CAST($h AS INT) AS height, $pivots
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Windcorr-style adjusted~raw regression report (mirrors
    * ModelChecks.scrubReport over the q_scrub synthetic PII suffix).
    */
  def qScrubReport: String = {
    val raw = "text || ' user' || doc_id || '@mail.example 555-123-4567 123-45-6789'"
    val scr = s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    $raw,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
      |    '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g'),
      |    '$toxRe', '<TOX>', 'g')""".stripMargin
    s"""WITH l AS (SELECT source AS domain,
       |  CAST(length($raw) AS BIGINT) AS x,
       |  CAST(length($scr) AS BIGINT) AS y
       |  FROM documents),
       |a AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx, SUM(x * y) AS sxy
       |  FROM l GROUP BY domain)
       |SELECT domain, n_docs,
       |  CASE WHEN CAST(n_docs * sxx - sx * sx AS DOUBLE) <> 0.0
       |       THEN CAST(n_docs * sxy - sx * sy AS DOUBLE) /
       |            CAST(n_docs * sxx - sx * sx AS DOUBLE) END AS slope,
       |  CASE WHEN CAST(n_docs * sxx - sx * sx AS DOUBLE) <> 0.0
       |       THEN (CAST(sy AS DOUBLE) -
       |             (CAST(n_docs * sxy - sx * sy AS DOUBLE) /
       |              CAST(n_docs * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) /
       |            CAST(n_docs AS DOUBLE) END AS intercept
       |FROM a ORDER BY domain""".stripMargin
  }

  /** Sequential-fold dot product (mirrors Similarity.dot exactly). */
  def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), " +
      s"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (acc, x) -> acc + x)"

  def sqlCosine(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"

  def qAnnTopK(queryIds: Seq[Long], k: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |           WHERE vec_id IN (${queryIds.mkString(", ")})),
       |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
       |        ${sqlCosine("q.qv", "e.embedding")} AS cos
       |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
       |      FROM s)
       |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  def qAnnPairs(nPlanes: Int, threshold: Double): String = {
    val bits = (0 until nPlanes).map { p =>
      val proj = sqlDot("embedding",
        s"list_transform(range(0, len(embedding)), j -> CAST(((${p * 31}) + j * 17) % 7 - 3 AS DOUBLE))")
      s"CASE WHEN $proj >= 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH b AS (SELECT vec_id, embedding, ($bits) AS bucket FROM embeddings),
       |p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.bucket,
       |        ${sqlCosine("a.embedding", "b2.embedding")} AS cos
       |      FROM b a JOIN b b2 USING (bucket) WHERE a.vec_id < b2.vec_id)
       |SELECT id_a, id_b, bucket, cos FROM p WHERE cos >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Rolling-hash fingerprint (mirrors TextFeatures.rollingHash): left fold
    * with an explicit 0 init via list_prepend (list_reduce's bare form seeds
    * with the first element; prepending 0 reproduces Spark's aggregate).
    */
  val rollHash: String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(text, ' '), " +
      "w -> CAST(ascii(w) AS BIGINT) * 31 + length(w))), " +
      "(acc, x) -> (acc * 131 + x) % 1000000007)"

  def qRollHash: String =
    s"SELECT doc_id, $rollHash AS roll_fp FROM documents ORDER BY doc_id"

  // ---- corpus-level line dedup / decontamination / sampling oracles ----

  /** Mirrors Dedup.lineDedup(wordsPerLine = k): fixed-width word-window
    * lines, corpus-wide keep-the-first (min doc_id, then min line_no), md5
    * of the newline-reassembled surviving text per doc.
    */
  def qLineDedup(k: Int): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |ix AS (SELECT doc_id, ws,
       |  unnest(range(0, CAST(ceil(len(ws) / CAST($k AS DOUBLE)) AS BIGINT))) AS i FROM w),
       |lh AS (SELECT doc_id, CAST(i AS INT) AS line_no,
       |  array_to_string(list_slice(ws, CAST(i AS INT) * $k + 1, CAST(i AS INT) * $k + $k), ' ') AS line
       |  FROM ix),
       |lf AS (SELECT doc_id, line_no, line, md5(line) AS lfp FROM lh),
       |k1 AS (SELECT lfp, min(doc_id) AS kdoc FROM lf GROUP BY 1),
       |k2 AS (SELECT lf.lfp, k1.kdoc, min(lf.line_no) AS kline
       |       FROM k1 JOIN lf ON lf.lfp = k1.lfp AND lf.doc_id = k1.kdoc GROUP BY 1, 2),
       |kept AS (SELECT lf.doc_id, lf.line_no, lf.line FROM lf
       |         JOIN k2 ON lf.lfp = k2.lfp AND lf.doc_id = k2.kdoc AND lf.line_no = k2.kline),
       |ka AS (SELECT doc_id, COUNT(*) AS n_kept,
       |       md5(array_to_string(list(line ORDER BY line_no), chr(10))) AS kept_fp
       |       FROM kept GROUP BY doc_id),
       |aa AS (SELECT doc_id, COUNT(*) AS n_lines FROM lf GROUP BY doc_id)
       |SELECT aa.doc_id, CAST(aa.n_lines AS BIGINT) AS n_lines,
       |  CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
       |  COALESCE(ka.kept_fp, md5('')) AS kept_fp
       |FROM aa LEFT JOIN ka USING (doc_id) ORDER BY aa.doc_id""".stripMargin

  /** Mirrors Dedup.decontaminate over the split documents WHERE doc_id %
    * `mod` == `res` (benchmark) vs the rest (corpus), same shingle width.
    */
  def qDecontaminate(n: Int, mod: Int, res: Int): String = {
    def sh(name: String, where: String): String =
      shinglesCte(n).replace("sh AS", s"$name AS")
        .replace("FROM documents", s"FROM documents WHERE $where")
    s"""WITH ${sh("cs", s"doc_id % $mod <> $res")},
       |${sh("bs0", s"doc_id % $mod = $res")},
       |bs AS (SELECT DISTINCT shingle FROM bs0),
       |cards AS (SELECT doc_id, COUNT(*) AS n_shingles FROM cs GROUP BY 1),
       |hits AS (SELECT cs.doc_id, COUNT(*) AS n_contam
       |         FROM cs JOIN bs USING (shingle) GROUP BY 1)
       |SELECT hits.doc_id, CAST(n_contam AS BIGINT) AS n_contam,
       |  CAST(n_shingles AS BIGINT) AS n_shingles,
       |  CAST(n_contam AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contam_frac
       |FROM hits JOIN cards USING (doc_id) ORDER BY hits.doc_id""".stripMargin
  }

  /** Mirrors Sampling.rateHex — must stay in lockstep with the Scala side. */
  def rateHexSql(rate: Double): String =
    if (rate >= 1.0) "zzzzzzzz"
    else f"${math.max(0L, (rate * 4294967296.0).toLong)}%08x"

  /** Mirrors Sampling.stratifiedHash over documents keyed by lang. */
  def qSampleStratified(rates: Map[String, Double], defaultRate: Double,
                        salt: String): String = {
    val cases = rates.toSeq.sortBy(_._1)
      .map { case (k, r) => s"WHEN '$k' THEN '${rateHexSql(r)}'" }
      .mkString(" ")
    s"""SELECT doc_id, lang FROM documents
       |WHERE substr(md5('$salt#' || CAST(doc_id AS VARCHAR)), 1, 8) <
       |  (CASE lang $cases ELSE '${rateHexSql(defaultRate)}' END)
       |ORDER BY doc_id""".stripMargin
  }

  /** Mirrors Sampling.qualityBuckets over documents with strata = lang and
    * score = mean word length: exact tercile cut points from the
    * distinct-value histogram.
    */
  def qQualityBuckets: String =
    s"""WITH f AS (SELECT doc_id, lang, $mwl AS score FROM documents),
       |h AS (SELECT lang, score, COUNT(*) AS c FROM f
       |      WHERE score IS NOT NULL GROUP BY 1, 2),
       |cum AS (SELECT lang, score, c,
       |        SUM(c) OVER (PARTITION BY lang ORDER BY score) AS cumc FROM h),
       |tot AS (SELECT lang, SUM(c) AS n FROM h GROUP BY 1),
       |cuts AS (SELECT cum.lang,
       |  MIN(CASE WHEN cumc >= ceil(n / 3.0) THEN score END) AS c1,
       |  MIN(CASE WHEN cumc >= ceil(n * 2.0 / 3.0) THEN score END) AS c2
       |  FROM cum JOIN tot USING (lang) GROUP BY 1)
       |SELECT f.doc_id, f.lang,
       |  CASE WHEN f.score IS NULL THEN NULL
       |       WHEN f.score <= c1 THEN 'head'
       |       WHEN f.score <= c2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM f LEFT JOIN cuts USING (lang) ORDER BY f.doc_id""".stripMargin

  // ---- multimodal plumbing oracles ----
  // The synthetic payload is bin = unhex(magic(doc_id%5) || repeat(md5(text),4));
  // its canonical hex string H lets DuckDB mirror every binary op as a
  // hex-string op: hex(substring(bin,p,l)) == substr(H, 2p-1, 2l).
  val mmMagicCase: String =
    """(CASE CAST(doc_id % 5 AS INT)
      |  WHEN 0 THEN '89504E470D0A1A0A' WHEN 1 THEN 'FFD8FFE000104A46'
      |  WHEN 2 THEN '4749463839610000' WHEN 3 THEN '52494646AAAA0000'
      |  ELSE '0000001866747970' END)""".stripMargin.replaceAll("\n", " ")
  val mmHex: String = s"($mmMagicCase || upper(repeat(md5(text), 4)))"

  /** Mirrors Multimodal.sniffFormat's when-chain over the head bytes. */
  def mmFormat(h: String): String =
    s"""(CASE WHEN substr($h, 1, 8) = '89504E47' THEN 'png'
       | WHEN substr($h, 1, 6) = 'FFD8FF' THEN 'jpeg'
       | WHEN substr($h, 1, 6) = '474946' THEN 'gif'
       | WHEN substr($h, 1, 8) = '52494646' THEN 'riff'
       | WHEN substr($h, 9, 8) = '66747970' THEN 'mp4'
       | WHEN substr($h, 1, 10) = '3C68746D6C' OR substr($h, 1, 10) = '3C21444F43' THEN 'html'
       | ELSE 'unknown' END)""".stripMargin.replaceAll("\n", " ")

  def qMmMeta: String =
    s"""WITH m AS (SELECT doc_id, $mmHex AS h FROM documents)
       |SELECT doc_id, ${mmFormat("h")} AS mm_format,
       |  CAST(length(h) // 2 AS INT) AS n_bytes,
       |  md5(substr(h, 1, 128)) AS head_fp
       |FROM m ORDER BY doc_id""".stripMargin

  /** Mirrors Multimodal.frameSample(n=4, frameBytes=32): evenly spaced
    * 32-byte slices; offsets via the same integer division.
    */
  def qMmFrames(n: Int = 4, frameBytes: Int = 32): String =
    s"""WITH m AS (SELECT doc_id, $mmHex AS h FROM documents),
       |f AS (SELECT doc_id, h, unnest(range(0, $n)) AS frame_no FROM m),
       |o AS (SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
       |  CAST((frame_no * greatest(length(h) // 2 - $frameBytes, 0)) // ${n - 1} AS INT) AS "offset", h
       |  FROM f)
       |SELECT doc_id, frame_no, "offset",
       |  substr(h, "offset" * 2 + 1, ${frameBytes * 2}) AS chunk_hex
       |FROM o ORDER BY doc_id, frame_no""".stripMargin

  /** Hard gate on the REAL JPEG decode path (q_mm_jpeg): the payload is a
    * real JDK-encoded 16×16 JPEG per doc and the Spark side asserts
    * decoded-vs-source error bounds computed from ACTUALLY DECODED pixels
    * (PngCodec.jpegRoundTrip — measured worst case 24.8/3.8 vs tolerances
    * 48/16; any broken decode reads ≈127). JPEG is lossy, so the oracle
    * pins the deterministic OUTCOME (dims, sniffed magic, decode_ok=true)
    * rather than the pixels — a rows+schema+hash row that fails whenever
    * the real codec misbehaves.
    */
  def qMmJpeg(w: Int = 16, h: Int = 16): String =
    s"""SELECT doc_id, 'jpeg' AS mm_format,
       |  CAST($w AS INT) AS width, CAST($h AS INT) AS height,
       |  TRUE AS decode_ok
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Mirrors WavCodec: samples are the closed-form PCM16 congruence
    * ((1234·d + 5678·i + 91) mod 2^16) − 32768; PCM is lossless, so the
    * per-window sums of DECODED samples equal these exact integer sums —
    * the audio twin of qMmEmbed's recompute-the-pixels strategy.
    */
  def qMmAudio(nSamples: Int = 256, nWindows: Int = 8,
               sampleRate: Int = 8000): String = {
    val pivots = (0 until nWindows)
      .map(i => s"CAST(MAX(CASE WHEN wi = $i THEN ws END) AS BIGINT) AS ws_$i")
      .mkString(", ")
    s"""WITH smp AS (SELECT doc_id, i,
       |  ((1234 * doc_id + 5678 * i + 91) % 65536) - 32768 AS s
       |  FROM documents, range(0, $nSamples) t(i)),
       |w AS (SELECT doc_id, CAST(i * $nWindows // $nSamples AS INT) AS wi,
       |  SUM(s) AS ws FROM smp GROUP BY doc_id, wi)
       |SELECT doc_id, CAST($sampleRate AS INT) AS sample_rate,
       |  CAST(1 AS INT) AS channels, CAST($nSamples AS INT) AS n_samples,
       |  $pivots
       |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** IVF top-k (mirrors Similarity.ivfTopK): coarse assignment to the
    * nearest of the `nCentroids` smallest-id vectors, probe `nProbe`
    * buckets, exact cosine within them.
    */
  def qIvfTopK(queryIds: Seq[Long], k: Int, nCentroids: Int, nProbe: Int): String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
       |               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nCentroids),
       |a0 AS (SELECT e.vec_id, e.embedding, c.cent_id,
       |         ${sqlCosine("e.embedding", "c.cv")} AS ccos
       |       FROM embeddings e CROSS JOIN cents c),
       |a AS (SELECT vec_id, embedding, cent_id FROM
       |       (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS r FROM a0)
       |      WHERE r = 1),
       |q0 AS (SELECT e.vec_id AS query_id, e.embedding AS qv, c.cent_id,
       |         ${sqlCosine("e.embedding", "c.cv")} AS qcos
       |       FROM embeddings e CROSS JOIN cents c
       |       WHERE e.vec_id IN (${queryIds.mkString(", ")})),
       |p AS (SELECT query_id, qv, cent_id FROM
       |       (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, cent_id ASC) AS r FROM q0)
       |      WHERE r <= $nProbe),
       |s AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |        ${sqlCosine("p.qv", "a.embedding")} AS cos
       |      FROM a JOIN p USING (cent_id) WHERE a.vec_id <> p.query_id)
       |SELECT query_id, neighbor_id, cos, rank FROM
       |  (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank FROM s)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Embedding near-dup dedup survivors (mirrors Dedup.embeddingNearDup). */
  def qDedupEmbed(nPlanes: Int, threshold: Double): String = {
    val bits = (0 until nPlanes).map { p =>
      val proj = sqlDot("embedding",
        s"list_transform(range(0, len(embedding)), j -> CAST(((${p * 31}) + j * 17) % 7 - 3 AS DOUBLE))")
      s"CASE WHEN $proj >= 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH b AS (SELECT vec_id, embedding, ($bits) AS bucket FROM embeddings),
       |drops AS (SELECT DISTINCT b2.vec_id AS id_b
       |          FROM b a JOIN b b2 USING (bucket)
       |          WHERE a.vec_id < b2.vec_id
       |            AND ${sqlCosine("a.embedding", "b2.embedding")} >= $threshold)
       |SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT id_b FROM drops)
       |ORDER BY vec_id""".stripMargin
  }

  /** PII/toxicity scrub parity (mirrors Scrubber.scrub + the synthetic PII
    * suffix; the outermost layer is the toxicity-lexicon mask, same order
    * as ScrubPatterns.scrub).
    */
  def qScrub: String =
    s"""SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    text || ' user' || doc_id || '@mail.example 555-123-4567 123-45-6789',
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
      |    '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g'),
      |    '$toxRe', '<TOX>', 'g') AS scrubbed
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Full cascade (SQL-expressible subset) in reference order with sticky
    * flags, keep-list asymmetry, and alive-set recomputation between the
    * neighborhood stages — mirrors Cascade.run with the same config.
    */
  // ---- repetition quality signals (mirror operators.Repetition) ----

  /** Word n-gram list over the whitespace tokens (1-indexed DuckDB lists;
    * empty-token filter mirrors Repetition.words).
    */
  private def gramsSql(n: Int): String = {
    val item = (0 until n).map(k => if (k == 0) "ws[i]" else s"ws[i+$k]").mkString(" || ' ' || ")
    s"list_transform(range(1, len(ws)${if (n > 2) s" - ${n - 2}" else ""}), i -> $item)"
  }

  /** Per-doc (top_frac, dup_frac) CTE chain for n-grams; the oracle counts
    * the exploded multiset (the engine's sorted-run fold is the row-local
    * equivalent: the mode of a multiset is the longest run of its sorted
    * form).
    */
  private def repCtes(p: String, n: Int): String =
    s"""${p}g AS (SELECT doc_id, unnest(${gramsSql(n)}) AS g FROM w WHERE len(ws) >= $n),
       |${p}c AS (SELECT doc_id, g, COUNT(*) AS c FROM ${p}g GROUP BY doc_id, g),
       |${p}a AS (SELECT doc_id,
       |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_top${n}_frac,
       |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_dup${n}_frac
       |  FROM ${p}c GROUP BY doc_id)""".stripMargin

  def repWordsCte(table: String = "documents"): String =
    s"w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM $table)"

  def qRepetition: String =
    s"""WITH ${repWordsCte()},
       |${repCtes("r2", 2)},
       |${repCtes("r3", 3)}
       |SELECT d.doc_id, r2a.rep_top2_frac, r2a.rep_dup2_frac,
       |  r3a.rep_top3_frac, r3a.rep_dup3_frac
       |FROM documents d LEFT JOIN r2a USING (doc_id) LEFT JOIN r3a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** 503 failure predicate over the joined rep_* fraction columns. */
  def repFail(c: CascadeConfig): String =
    s"(rep_top2_frac > ${c.maxTop2GramFrac} OR rep_dup2_frac > ${c.maxDup2GramFrac} OR " +
      s"rep_top3_frac > ${c.maxTop3GramFrac})"

  def qRepetitionCheck(c: CascadeConfig): String =
    s"""WITH ${repWordsCte()},
       |${repCtes("r2", 2)},
       |${repCtes("r3", 3)}
       |SELECT d.doc_id, CASE WHEN ${repFail(c)} THEN 503 END AS dqc
       |FROM documents d LEFT JOIN r2a USING (doc_id) LEFT JOIN r3a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  def qCascade(c: CascadeConfig, table: String = "documents",
               orderBy: Boolean = true): String = {
    val blackCase = c.blacklistDomains.toSeq.sorted
      .map(d => s"WHEN source = '$d' THEN 999").mkString(" ")
    val keepCase = c.keepDomains.toSeq.sorted
      .map(d => s"WHEN source = '$d' THEN 990").mkString(" ")
    val alive1 = "(d1 IS NULL OR d1 = 990)"
    val alive2 = "(d2 IS NULL OR d2 = 990)"
    val alive3 = "(d3 IS NULL OR d3 = 990)"
    // ingest-time exact duplicate drop (mirrors Ingest.dropDuplicatePages
    // over Docs.pages, whose url is a pure function of (source, doc_id) and
    // whose warc_ts is constant — so the min-(url, warc_ts) keeper reduces
    // to the min url per normalized-text fingerprint)
    val src =
      if (!c.dedupIngest) table
      else s"""(SELECT doc_id, source, lang, text FROM (
              |  SELECT doc_id, source, lang, text,
              |    'https://' || source || '.example.com/d/' || doc_id AS _url,
              |    CASE WHEN text IS NOT NULL AND length(trim(text)) > 0
              |         THEN $fingerprint END AS _fp FROM $table)
              | QUALIFY _fp IS NULL OR _url = min(_url) OVER (PARTITION BY _fp))""".stripMargin
    // repetition (503) layer, present iff the config builds the stage
    // (Cascade.stages gates on enabled + repetitionActive). The rep_*
    // fractions are row-local pure functions of text, so computing them
    // over the pre-dedup table and joining by doc_id is equivalent.
    val repOn = c.enabled.contains(graft.model.FlagCodes.Repetition) && c.repetitionActive
    val repCteSql =
      if (!repOn) ""
      else s",\n${repWordsCte(table)},\n${repCtes("cr2", 2)},\n${repCtes("cr3", 3)}"
    val repJoin =
      if (!repOn) ""
      else " LEFT JOIN cr2a USING (doc_id) LEFT JOIN cr3a USING (doc_id)"
    val repFrepCol = if (!repOn) "" else s", ${repFail(c)} AS f_rep"
    val repWhen = if (!repOn) "" else "\n    WHEN d0 IS NULL AND f_rep THEN 503"
    val orderClause = if (orderBy) " ORDER BY doc_id" else ""
    val dual = single(c.dualParams, "dualParams")
    val buddy = single(c.buddyParams, "buddyParams")
    val sct = single(c.sctParams, "sctParams")
    s"""WITH base0 AS (
       |  SELECT doc_id, source, lang,
       |    $nw AS nw,
       |    CAST($nw > ${dual.eventWords} AS INT) AS ev,
       |    ${metaFail(c)} AS f_meta,
       |    ${langMismatchFail(c)} AS f_lm,
       |    ${plausFail(c)} AS f_plaus,
       |    ${langBoundsFail(c)} AS f_lb,
       |    CASE $blackCase $keepCase END AS d0
       |  FROM $src)$repCteSql,
       |base AS (SELECT base0.*, ${buddyXSql(c, "nw")} AS bx$repFrepCol
       |  FROM base0$repJoin),
       |s1 AS (
       |  SELECT doc_id, source, lang, nw, bx, ev, CASE
       |    WHEN d0 = 999 THEN 999
       |    WHEN (d0 IS NULL OR d0 = 990) AND f_meta THEN 901
       |    WHEN d0 IS NULL AND f_lm THEN 902
       |    WHEN (d0 IS NULL OR d0 = 990) AND f_plaus THEN 501
       |    WHEN d0 IS NULL AND f_lb THEN 502$repWhen
       |    ELSE d0 END AS d1
       |  FROM base),
       |t2 AS (SELECT source,
       |    CAST(SUM(CASE WHEN $alive1 THEN CAST(ev AS BIGINT) END) AS BIGINT) AS evs,
       |    COUNT(CASE WHEN $alive1 THEN 1 END) AS evn
       |  FROM s1 GROUP BY source),
       |s2a AS (SELECT s1.doc_id, s1.source, s1.lang, s1.nw, s1.bx, s1.ev, s1.d1, t2.evs, t2.evn,
       |    CAST(t2.evs - CAST(s1.ev AS BIGINT) AS DOUBLE) / CAST(t2.evn - 1 AS DOUBLE) AS frac
       |  FROM s1 LEFT JOIN t2 USING (source)),
       |s2 AS (SELECT doc_id, source, lang, nw, bx, CASE
       |    WHEN d1 IS NULL AND evn - 1 >= ${dual.minN} AND
       |      ((frac >= ${dual.hiFrac} AND ev = 0) OR (frac <= ${dual.loFrac} AND ev = 1))
       |    THEN 3 ELSE d1 END AS d2
       |  FROM s2a),
       |t3 AS (SELECT source,
       |    CAST(SUM(CASE WHEN $alive2 THEN CAST(bx AS BIGINT) END) AS BIGINT) AS s,
       |    CAST(SUM(CASE WHEN $alive2 THEN CAST(bx AS BIGINT) * CAST(bx AS BIGINT) END) AS BIGINT) AS q,
       |    COUNT(CASE WHEN $alive2 THEN 1 END) AS n
       |  FROM s2 GROUP BY source),
       |s3a AS (SELECT s2.doc_id, s2.source, s2.lang, s2.nw, s2.bx, s2.d2, t3.n, ${buddyMeanX("bx")} AS mean, t3.q, t3.s
       |  FROM s2 LEFT JOIN t3 USING (source)),
       |s3b AS (SELECT doc_id, source, lang, nw, bx, d2, n, mean, ${buddySdSql(c, "bx")} AS sd
       |  FROM s3a),
       |s3 AS (SELECT doc_id, source, lang, nw, CASE
       |    WHEN d2 IS NULL AND n - 1 >= ${buddy.minN} AND sd > 0.0 AND
       |      abs((CAST(bx AS DOUBLE) - mean) / sd) > ${buddy.z}
       |    THEN 10 ELSE d2 END AS d3
       |  FROM s3b),
       |${orderStatsCtes("t4", "s3", "source", "nw", alive3)},
       |s4a AS (SELECT s3.doc_id, s3.source, s3.lang, s3.nw, s3.d3, t4o.n,
       |    ${popMedSumSql("t4o.m0", "t4o.m1", "t4o.n")} AS pms,
       |    ${looMedSql("s3.nw", "t4o.m0", "t4o.m1", "t4o.m2", "t4o.n")} AS loomed
       |  FROM s3 LEFT JOIN t4o USING (source)),
       |s4b AS (SELECT doc_id, source, lang, nw, d3, n, loomed,
       |    abs(nw * 2 - pms) AS d2 FROM s4a),
       |${orderStatsCtes("t4d", "s4b", "source", "d2", "d3 IS NULL OR d3 = 990")},
       |t4m AS (SELECT source,
       |    CAST(${popMedSumSql("m0", "m1", "n")} AS DOUBLE) / 4.0 AS mad FROM t4do),
       |s4 AS (SELECT s4b.doc_id, s4b.source, s4b.lang, CASE
       |    WHEN d3 IS NULL AND s4b.n - 1 >= ${sct.minN} AND mad > 0.0 AND
       |      abs(CAST(s4b.nw AS DOUBLE) - loomed) / (1.4826 * mad) > ${sct.z}
       |    THEN 1 ELSE d3 END AS d4
       |  FROM s4b LEFT JOIN t4m USING (source)),
       |t5 AS (SELECT source, lang, COUNT(CASE WHEN (d4 IS NULL OR d4 = 990) THEN 1 END) AS n
       |  FROM s4 GROUP BY source, lang),
       |s5 AS (SELECT s4.doc_id, s4.source, CASE
       |    WHEN d4 IS NULL AND COALESCE(t5.n, 0) - 1 < ${c.isolationMinN} THEN 800
       |    ELSE d4 END AS d5
       |  FROM s4 LEFT JOIN t5 USING (source, lang))
       |SELECT doc_id, COALESCE(d5, 0) AS dqc,
       |  (COALESCE(d5, 0) = 0 OR COALESCE(d5, 0) = 990) AS keep
       |FROM s5$orderClause""".stripMargin
  }

  /** Per-micro-batch cascade over disjoint slices of the documents table —
    * the q_stream_batches oracle: each slice is a complete, independent
    * cascade run (one micro-batch = one neighborhood-statistics window,
    * exactly the engine's documented per-snapshot streaming semantics), and
    * the union of per-slice labels is order-independent because the slices
    * partition doc_id.
    */
  def qCascadeSliced(c: CascadeConfig, slicePreds: Seq[String]): String = {
    val arms = slicePreds.map(p =>
      "(" + qCascade(c, table = s"(SELECT * FROM documents WHERE $p)",
        orderBy = false) + ")")
    s"""SELECT doc_id, dqc, keep FROM (
       |${arms.mkString("\nUNION ALL\n")}
       |) ORDER BY doc_id""".stripMargin
  }

  /** Check-level reject counts per provider — the metrics table rolled up
    * over partitions (partition lineage is execution detail the oracle
    * cannot see; the per-(domain, flag) counts are the semantic content).
    * Shares qCascade's entire CTE chain: only the final select differs.
    * Docs.pages passes `source` through as the domain column verbatim.
    */
  def qCascadeMetrics(c: CascadeConfig): String = {
    val body = qCascade(c)
    val cut = body.lastIndexOf("SELECT doc_id, COALESCE(d5, 0) AS dqc")
    body.substring(0, cut) +
      s"""SELECT source AS domain, COALESCE(d5, 0) AS dqc,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM s5 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q_langid oracle — the exact-integer-scoring language detection
    * (LangId.detectExact) expressed fully in SQL: the seed profiles'
    * integer trigram counts are inlined as a VALUES CTE (they are a pure
    * function of the public seed corpora, generated here from the SAME
    * LangId.seeds the engine uses, so the two sides cannot drift), doc
    * trigrams come from the identical normalization (lowercase, [^a-z]→' ',
    * collapse runs, pad one space each side — the corpus is all-ASCII, so
    * SQL lower == Java toLowerCase), and the scoring chain is
    * idot/sqrt(seedSsq) → argmax (ties: lang ascending) → margin/sqrt(docSsq)
    * with the exact IEEE operation order of detectExact.
    */
  def qLangIdExact: String = {
    // string-keyed integer trigram counts of each seed corpus — the same
    // enumeration as LangId.profile (padded, space-collapsed)
    def seedCounts(corpus: String): (Map[String, Long], Long) = {
      val s = " " + corpus.toLowerCase.replaceAll("[^a-z ]", " ")
        .replaceAll(" +", " ").trim + " "
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var i = 0
      while (i + 3 <= s.length) {
        val g = s.substring(i, i + 3)
        m(g) = m.getOrElse(g, 0L) + 1
        i += 1
      }
      (m.toMap, m.valuesIterator.map(c => c * c).sum)
    }
    val langs = graft.ml.LangId.seeds.toSeq.sortBy(_._1)
    val seedRows = langs.flatMap { case (lang, corpus) =>
      seedCounts(corpus)._1.toSeq.sorted.map { case (g, c) => s"('$lang','$g',$c)" }
    }
    val ssqRows = langs.map { case (lang, corpus) =>
      s"('$lang',${seedCounts(corpus)._2})"
    }
    s"""WITH seeds(lang, g, c) AS (VALUES ${seedRows.mkString(",")}),
       |sq(lang, ssq) AS (VALUES ${ssqRows.mkString(",")}),
       |norm AS (SELECT doc_id,
       |  ' ' || trim(regexp_replace(regexp_replace(lower(text), '[^a-z]', ' ', 'g'), ' +', ' ', 'g')) || ' ' AS s
       |  FROM documents),
       |tg AS (SELECT doc_id, substr(s, CAST(i AS INT), 3) AS g FROM (
       |  SELECT doc_id, s, unnest(range(1, len(s) - 1)) AS i
       |  FROM norm WHERE len(s) >= 3)),
       |tc AS (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY 1, 2),
       |dn AS (SELECT doc_id, SUM(c * c) AS dssq FROM tc GROUP BY 1),
       |sc AS (SELECT tc.doc_id, seeds.lang, SUM(tc.c * seeds.c) AS idot
       |  FROM tc JOIN seeds USING (g) GROUP BY 1, 2),
       |scored AS (SELECT sc.doc_id, sc.lang,
       |    CAST(idot AS DOUBLE) / sqrt(CAST(sq.ssq AS DOUBLE)) AS snorm
       |  FROM sc JOIN sq USING (lang) WHERE idot > 0),
       |ranked AS (SELECT doc_id, lang, snorm,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY snorm DESC, lang ASC) AS rn
       |  FROM scored),
       |best AS (SELECT r1.doc_id, r1.lang,
       |    r1.snorm - COALESCE(r2.snorm, 0.0) AS margin
       |  FROM ranked r1 LEFT JOIN ranked r2 ON r1.doc_id = r2.doc_id AND r2.rn = 2
       |  WHERE r1.rn = 1)
       |SELECT d.doc_id,
       |  COALESCE(b.lang, 'und') AS det_lang,
       |  COALESCE(b.margin / sqrt(CAST(dn.dssq AS DOUBLE)), 0.0) AS det_conf
       |FROM documents d LEFT JOIN dn USING (doc_id)
       |  LEFT JOIN best b ON d.doc_id = b.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }
}

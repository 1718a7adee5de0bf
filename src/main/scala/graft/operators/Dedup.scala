package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumns}
import org.apache.spark.sql.functions._
import graft.cascade.Cascade
import graft.functions.{ShinglesExpr, TextFeatures}

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash groupBy), word-n-gram Jaccard, MinHash+LSH banding, and
  * SimHash bucketing. The reference's ingest-time spatial duplicate_check
  * (keep the first of near-coincident stations,
  * /root/reference/functions/IO/read_data_to_check.r:122-143) generalizes
  * to all of these: a cheap bucketing key first, exact confirmation second,
  * deterministic keeper selection (min id) third.
  *
  * Scale notes: every operator is groupBy/join-shaped (map-side combinable,
  * AQE-skew-splittable); none uses windows over unbounded key groups. The
  * candidate-pair operators (ngramJaccard, minhashLsh, simhashPairs64 and
  * Similarity.annPairs) share one skeleton. [[bucketed]] takes one row per
  * (row, bucket key), drops the buckets above the operator's size cap, if
  * it has one, and checkpoints the kept rows; the cap bounds the
  * candidate-pair blowup the same way stopword removal bounds an inverted
  * index. (simhashPairs64 has no cap and skips it: its keys are cheaper to
  * recompute than to store.) [[bucketPairs]] is the one self-join: it
  * emits one row per pair and shared bucket, carrying the columns the
  * confirm needs, so every confirm runs on the pair row with no join back.
  */
object Dedup {

  /** Exact dedup: keep the minimum-id row per normalized-text fingerprint.
    * Aggregation + broadcast-back semi-join — no window, skew-safe.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withFp = df.withColumn("_fp", TextFeatures.fingerprint(col(textCol)))
    val keepers = withFp.groupBy("_fp").agg(min(col(idCol)).as(idCol))
    withFp.join(keepers, Seq("_fp", idCol), "left_semi").drop("_fp")
  }

  /** Keyed rows of a candidate-pair operator, ready for [[bucketPairs]]:
    * with a cap, only the buckets of at most `cap` rows are kept (a bucket
    * of B rows yields B·(B−1)/2 pairs), and `keyed` is materialized first
    * because the size aggregate and the semi-join both read it. The kept
    * rows are checkpointed, since both self-join sides (and the caller's
    * own aggregates) read them. No pre-partition: the self-join plans one
    * exchange on the bucket keys, and its other side reuses it.
    */
  private[operators] def bucketed(keyed: DataFrame, bucket: Seq[String],
                                  cap: Option[Int]): DataFrame =
    Cascade.materialize(cap.fold(keyed) { c =>
      val k = Cascade.materialize(keyed)
      k.join(k.groupBy(bucket.map(col): _*).agg(count(lit(1)).as("_bsz"))
          .filter(col("_bsz") <= c).select(bucket.map(col): _*),
        bucket, "left_semi")
    })

  /** The self-join of keyed rows (a [[bucketed]] frame, or simhashPairs64's
    * band keys) on their bucket keys: one row per (bucket…, id_a, id_b)
    * with id_a < id_b, plus each `carry` column c as c_a and c_b. A pair
    * sharing k buckets appears k times. Both sides are the same projection
    * up to aliases, so their exchanges are one.
    */
  private[operators] def bucketPairs(b: DataFrame, bucket: Seq[String], idCol: String,
                                     carry: Seq[String] = Nil): DataFrame = {
    def side(s: String) = b.select(bucket.map(col) ++
      (col(idCol).as(s"id_$s") +: carry.map(c => col(c).as(s"${c}_$s"))): _*)
    side("a").join(side("b"), bucket).filter(col("id_a") < col("id_b"))
  }

  /** Distinct word n-gram shingles per doc: (id, shingle). The windows
    * come from one native scan of the text (functions/ShinglesExpr); a doc
    * shorter than n words has none.
    */
  def shingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val grams = GraftColumns.of(ShinglesExpr(GraftColumns.exprOf(col(textCol)), n))
    df.select(col(idCol), explode(array_distinct(grams)).as("shingle"))
  }

  /** Candidate near-dup pairs with exact n-gram Jaccard >= threshold.
    * Output: (id_a, id_b, inter, card_a, card_b, jaccard) with id_a < id_b.
    * `maxShingleDf` prunes shingles shared by more than that many docs.
    */
  def ngramJaccard(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, threshold: Double = 0.6,
                   maxShingleDf: Int = 1000): DataFrame = {
    val kept = bucketed(shingles(df, textCol, idCol, n), Seq("shingle"), Some(maxShingleDf))
    val cards = kept.groupBy(col(idCol)).agg(count(lit(1)).as("card"))
    val inter = bucketPairs(kept, Seq("shingle"), idCol)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))

    inter
      .join(cards.select(col(idCol).as("id_a"), col("card").as("card_a")), Seq("id_a"))
      .join(cards.select(col(idCol).as("id_b"), col("card").as("card_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("card_a") + col("card_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "card_a", "card_b", "jaccard")
  }

  /** Fixed-width "lines" of a document: non-overlapping `wordsPerLine`-word
    * chunks, numbered from 0. A web page's natural unit for corpus-level
    * near-dup removal is the line/paragraph (boilerplate navigation, cookie
    * banners, footers repeat across millions of pages); the driver corpus
    * carries no newlines, so the chunking boundary is a deterministic word
    * window — the operator is agnostic to how the boundary was produced.
    * Every doc yields at least one line (an empty text is one empty line),
    * so the reassembly below covers every input row.
    */
  def lines(df: DataFrame, textCol: String, idCol: String,
            wordsPerLine: Int): DataFrame = {
    val w = col("_w")
    val nLines = ceil(size(w) / lit(wordsPerLine.toDouble)).cast("int")
    df.select(col(idCol), split(col(textCol), " ").as("_w"))
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), nLines - 1),
          i => concat_ws(" ", slice(w, i * wordsPerLine + 1, lit(wordsPerLine)))))
        .as(Seq("line_no", "line")))
  }

  /** Corpus-level line dedup (the CCNet/RefinedWeb shape): a line occurrence
    * survives only if it is the FIRST occurrence of that line in the whole
    * corpus — minimum doc id, then minimum line number within that doc —
    * mirroring the reference's keep-the-first duplicate semantics
    * (read_data_to_check.r:122-143) one level below the document. Output is
    * one row per input doc: total lines, surviving lines, and the md5 of the
    * newline-reassembled surviving text (order-preserving).
    *
    * Scale shape: explode → groupBy(line fingerprint) with a min(struct)
    * aggregate (map-side combinable; the lexicographic struct min IS the
    * keeper rule) → semi join back → per-doc reassembly whose state is
    * bounded by the doc's own line count. No windows, no all-pairs.
    */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
                wordsPerLine: Int = 10): DataFrame = {
    // materialized once: feeds the keeper aggregate and the keeper-mark
    // join probe side
    val ln = Cascade.materialize(lines(df, textCol, idCol, wordsPerLine)
      .withColumn("_lfp", md5(col("line"))))
    val keep = ln.groupBy("_lfp")
      .agg(min(struct(col(idCol), col("line_no"))).as("_k"))
      .select(col("_lfp"), col(s"_k.$idCol").as(idCol),
        col("_k.line_no").as("line_no"))
    // ONE per-doc aggregation computes totals, survivor count and the
    // reassembled fingerprint together: mark each line occurrence by a
    // left join against the keeper table (exactly one keeper row per
    // _lfp, so multiplicity is preserved), then count rows and marks and
    // collect only the marked lines (collect_list skips nulls; a doc with
    // zero survivors yields the empty-string md5, exactly the old
    // coalesce fallback). The previous shape aggregated the line frame
    // twice (survivors and totals separately) and joined the two back.
    val marked = ln.join(keep.withColumn("_keep", lit(1)),
      Seq("_lfp", idCol, "line_no"), "left")
    marked.groupBy(col(idCol)).agg(
        count(lit(1)).as("n_lines"),
        count(col("_keep")).as("n_kept"),
        md5(concat_ws("\n",
          transform(array_sort(collect_list(
            when(col("_keep") === 1, struct(col("line_no"), col("line"))))),
            s => s("line")))).as("kept_fp"))
      .select(col(idCol), col("n_lines"), col("n_kept"), col("kept_fp"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with a benchmark/eval set (the GPT-3/Llama training-data
    * hygiene step). Returns one row per CONTAMINATED corpus doc with the
    * contaminated-shingle count, the doc's distinct-shingle cardinality,
    * and their ratio.
    *
    * Scale shape: the benchmark side is eval suites — thousands of docs,
    * ~10⁵ distinct shingles at 100 TB corpus scale — so its distinct
    * shingle set is BROADCAST and the corpus-side probe is a map-local
    * semi join on the exploded shingles; the only shuffle is the per-doc
    * count aggregate (map-side combinable).
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
                    textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val cs = shingles(corpus, textCol, idCol, n)
    val bs = shingles(bench, textCol, idCol, n).select("shingle").distinct()
    // ONE aggregation pass computes both the per-doc cardinality and the
    // contaminated-shingle count: mark each corpus shingle by a broadcast
    // left join against the (distinct, so multiplicity-preserving)
    // benchmark set, then count rows and marks together. The previous
    // two-aggregate + join shape scanned the shingle frame twice and paid
    // a third join to reunite the counts — and needed the shingle frame
    // checkpointed to avoid re-running the explode, which this single-
    // consumer shape no longer does.
    val marked = cs.join(broadcast(bs.withColumn("_hit", lit(1))),
      Seq("shingle"), "left")
    marked.groupBy(col(idCol)).agg(
        count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_contam"))
      .filter(col("n_contam") > 0)
      .withColumn("contam_frac",
        col("n_contam").cast("double") / col("n_shingles").cast("double"))
      .select(idCol, "n_contam", "n_shingles", "contam_frac")
  }

  /** MinHash signature components: for permutation i, the minimum md5 of
    * (i || '#' || shingle) — lexicographic min of a keyed cryptographic
    * hash is a valid minwise permutation and is portable to the SQL oracle
    * (md5 is identical in Spark and DuckDB).
    */
  def minhashSignature(df: DataFrame, textCol: String, idCol: String,
                       n: Int, numHashes: Int): DataFrame = {
    val sh = shingles(df, textCol, idCol, n)
    val aggs = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i#"), col("shingle")))).as(s"mh$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash-LSH CANDIDATE pairs (no similarity confirm — callers wanting
    * exact Jaccard feed the candidates into a confirm join or use
    * `ngramJaccard`): band the signature, bucket-join within bands, dedup
    * pairs. Docs agreeing on all rows of any band are candidates
    * (id_a < id_b).
    *
    * `maxBucketSize` is the hot-bucket bound: a (band, key) bucket holding
    * B docs contributes B·(B−1)/2 candidate pairs, so ONE popular bucket —
    * template/boilerplate pages all sharing a minimum shingle-hash,
    * especially at rowsPerBand = 1 where a band key is a single min-hash —
    * goes quadratic at corpus scale. [[bucketed]] drops the buckets above
    * the cap before the [[bucketPairs]] self-join (the same stop-key move as
    * ngramJaccard's `maxShingleDf`): a bucket that big is boilerplate, not
    * near-dup signal, and exact-confirm downstream would reject its pairs
    * anyway. A pair agreeing on several bands is emitted once.
    * RECALL CONTRACT: pairs whose every agreeing band lands in a dropped
    * bucket are missed; pass Int.MaxValue for the exact uncapped variant.
    */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
                 n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                 maxBucketSize: Int = 1000): DataFrame = {
    // all band keys exploded in ONE pass and bucket-joined once on
    // (band, key): the per-band-join form recomputed the whole shingle
    // aggregation 2×bands times
    val bandKeys = (0 until bands).map { b =>
      concat_ws("#", (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
    }
    val keyed = minhashSignature(df, textCol, idCol, n, bands * rowsPerBand)
      .select(col(idCol), posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
    val bucket = Seq("band", "bkey")
    bucketPairs(bucketed(keyed, bucket, Some(maxBucketSize)), bucket, idCol)
      .select("id_a", "id_b").distinct()
  }

  /** Embedding-cosine near-dup dedup: LSH-bucketed candidate pairs
    * confirmed by exact cosine (Similarity.annPairs), then greedy keeper
    * selection — every id that appears as the larger member of a confirmed
    * pair is dropped, so the minimum id of each near-dup cluster survives
    * (the reference's duplicate_check keeps the first of near-coincident
    * stations the same way, read_data_to_check.r:134-139). Anti join, no
    * window, skew-safe.
    */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
                       nPlanes: Int = 8, threshold: Double = 0.9): DataFrame = {
    val drops = Similarity.annPairs(df, vecCol, idCol, nPlanes, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Portable 64-bit SimHash over whitespace tokens, exposed as four 16-bit
    * words sh0..sh3 (word j = bits 16j..16j+15; four ints sidestep BIGINT
    * sign pitfalls in the SQL oracle while carrying the full 64 bits). Each
    * token's md5 first 16 hex nibbles give 64 bits (bit b is bit b mod 4 of
    * nibble ⌊b/4⌋); per bit, sum (2·bit − 1) over tokens; the sign picks
    * the output bit. Pure integer arithmetic, bit-identical in the SQL
    * oracle — computed by ONE native single-pass expression per row
    * (functions/SimHash64Expr): no token explode, no 64-aggregate shuffle.
    * Docs with zero non-empty tokens produce no row (exploded-form parity).
    */
  def simhash64(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sig = GraftColumns.of(
      graft.functions.SimHash64Expr(GraftColumns.exprOf(col(textCol))))
    df.select(col(idCol), sig.as("_sig"))
      .filter(col("_sig.ntok") > 0)
      .select(col(idCol), col("_sig.sh0").as("sh0"), col("_sig.sh1").as("sh1"),
        col("_sig.sh2").as("sh2"), col("_sig.sh3").as("sh3"))
  }

  /** Banded 64-bit SimHash near-dup pairs — the 100 TB shape: explode the
    * four 16-bit bands (no cap), self-join on (band, key) in
    * [[bucketPairs]] carrying the four words (pigeonhole: two hashes within
    * hamming distance 3 must agree on at least one of 4 bands), confirm
    * with the exact hamming distance over the full 64 bits on the pair row,
    * then dedup the pairs that agree on several bands. 4×65 536 buckets per
    * band and candidates bounded by true near-dups + band-collisions —
    * never all-pairs.
    *
    * RECALL CONTRACT: with 4 bands the pigeonhole guarantee only covers
    * hamming ≤ 3 — a pair at distance 4..6 differing in all four bands
    * would be silently missed — so `maxHamming` is required ≤ 3. Callers
    * wanting a larger radius must raise the band count (bands > maxHamming)
    * rather than widen the confirm filter.
    */
  def simhashPairs64(df: DataFrame, textCol: String, idCol: String,
                     maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4-band pigeonhole recall guarantee (<= 3)")
    val words = (0 until 4).map(j => s"sh$j")
    val keyed = simhash64(df, textCol, idCol).select(col(idCol) +: words.map(col) :+
      posexplode(array(words.map(col): _*)).as(Seq("band", "bkey")): _*)
    val hamming = words.map(w =>
      call_function("bit_count", col(s"${w}_a").bitwiseXOR(col(s"${w}_b"))).cast("int"))
      .reduce(_ + _)
    // not checkpointed: recomputing one native signature per row for the
    // other join side is cheaper than storing four keyed rows per doc
    // (measured on near_dup: +6 % stored bytes, no time saved)
    val bucket = Seq("band", "bkey")
    bucketPairs(keyed, bucket, idCol, carry = words)
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}

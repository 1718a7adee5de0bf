package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.stages._
import graft.cascade.Cascade
import graft.io.{Docs, PagesGen}
import graft.functions.TextFeatures
import graft.ml.Scrubber
import graft.operators.{Dedup, Multimodal, Sampling, Similarity}
import graft.operators.{Repetition => RepetitionOp}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator of the engine over the
  * driver-provided parquet tables; `oracleSql` holds the DuckDB-equivalent
  * SQL (generated from the same config via OracleSql so thresholds cannot
  * drift). Model-based checks that SQL cannot express are exposed as
  * rows-only queries (no oracle entry) and verified by ScalaTest F1 gates.
  */
object SparkEntry {
  import FlagCodes._

  /** Config for the documents-table demo corpus (thresholds calibrated so
    * every check fires on some rows of the sf0.01 table).
    */
  val docCfg: CascadeConfig = CascadeConfig(
    minChars = 60, maxChars = 100000,
    minWords = 12, maxWords = 100000,
    meanWordLen = Bounds(3.0, 10.0),
    maxSymbolRatio = 0.30,
    langStopMin = Map("en" -> 0.05),
    langMismatchMinConf = 0.10,
    buddyParams = Seq(BuddyParams(5, 2.0)),
    sctParams = Seq(SctParams(5, 2.5)),
    dualParams = Seq(DualParams(5, 85, 0.1, 0.95)),
    isolationMinN = 3,
    blacklistDomains = Set("src19"),
    keepDomains = Set("src7"),
    // reference-shaped scale features, ON in the shipped flagship config
    // (the reference dedups unconditionally, read_data_to_check.r:122-143;
    // num_max_outer is never unset in its inis, test/ini/ta_sct.ini:19; and
    // values are boxcoxed before the gaussian checks, statistics_util.r:
    // 101-107). The neighbor cap is a no-op at oracle SFs (every group is
    // far below it, so every row's leave-one-out statistics use its whole
    // group, as the oracle SQL does) but bounds giant hosts at corpus scale.
    dedupIngest = true,
    maxRefsPerGroup = Some(100000),
    buddyLog1p = true,
    // repetition ceilings (503) — calibrated so ~3% of each sf's documents
    // exceed one (p99-ish of the corpus distribution)
    maxTop2GramFrac = 0.12,
    maxDup2GramFrac = 0.20,
    maxTop3GramFrac = 0.10,
    // toxicity (504) density ceiling — like CrossField below, enabled but
    // structurally quiet on the driver tables (their text contains no
    // lexicon terms, verified over sf0.1), so the qCascade oracle doesn't
    // model the layer; q_check_toxicity exercises it on planted doses
    maxToxicFrac = 0.10,
    // CrossField is enabled but can never fire on Docs.pages (html is the
    // UTF-8 encoding of text, so chars(text) ≤ bytes(html) always) — the
    // qCascade oracle therefore doesn't model it; q_check_crossfield
    // exercises the predicate on a frame with genuinely divergent html
    enabled = Set(Metadata, CrossField, LangMismatch, Plausibility, LangBounds,
      FlagCodes.Repetition, FlagCodes.Toxicity, SctDual, Buddy, Sct, Isolation))

  /** Stratified-sampling query parameters (Spark + oracle share them). */
  val SampleRates: Map[String, Double] =
    Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.1)
  val SampleDefaultRate = 0.75
  val SampleSalt = "graft-r3"

  /** Config of the convergence-iteration query: docCfg with a tighter sct
    * z (2.0 instead of 2.5) so that round 2 demonstrably flags more rows at
    * the oracle SFs, and two rounds.
    */
  val sctIterCfg: CascadeConfig = docCfg.copy(
    sctParams = docCfg.sctParams.map(_.copy(z = 2.0)), sctMaxIter = 2)

  /** Multi-test-configuration buddy (the reference's `j` loop, buddy.r:101;
    * ini pairs test/ini/rr1_buddy.ini:16-20) exercised through the oracle
    * gate: a strict pass then a loose one, the second recomputing its group
    * statistics without the rows the first flagged.
    */
  val buddyMultiCfg: CascadeConfig = docCfg.copy(
    buddyParams = Seq(BuddyParams(5, 3.0), BuddyParams(5, 1.5)))

  /** Priority rounds (buddy.r:112-155) exercised through the oracle gate.
    * The buddy key is `lang`, NOT the priority key (`domain`), so the
    * rounds genuinely interact: class-1 providers are judged first against
    * class-1 references only, and whatever they lose is absent from the
    * class-0 round's statistics.
    */
  val buddyPrioCfg: CascadeConfig = docCfg.copy(
    buddyKeys = Seq(Cols.Lang),
    priorities = Map("src2" -> 1, "src6" -> 1, "src9" -> 1,
      "src13" -> 1, "src17" -> 1))

  /** Models trained once per (application, sfDir) and reused — production
    * loads a pre-trained model; retraining inside every query invocation
    * would make the flagship bench number mostly training time.
    */
  private val modelCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), Models]
  def trainedModels(s: SparkSession, dir: String): Models =
    modelCache.getOrElseUpdate((s.sparkContext.applicationId, dir),
      Models.train(s, Docs.read(s, dir).select("text", "lang")))

  private def norm(s: SparkSession, dir: String): DataFrame =
    Ingest.normalize(Docs.pages(s, dir), docCfg)

  /** Deterministic opaque payload for the multimodal queries: a sniffable
    * magic header (cycled by doc_id) followed by md5-derived bytes — the
    * DuckDB oracle mirrors every binary op on its hex form (OracleSql.mmHex).
    */
  private def mmBin: org.apache.spark.sql.Column = {
    val m = pmod(col("doc_id"), lit(5)).cast("int")
    val magic = when(m === 0, lit("89504E470D0A1A0A"))
      .when(m === 1, lit("FFD8FFE000104A46"))
      .when(m === 2, lit("4749463839610000"))
      .when(m === 3, lit("52494646AAAA0000"))
      .otherwise(lit("0000001866747970"))
    unhex(concat(magic, repeat(md5(col("text")), 4)))
  }

  /** Real deterministic PNG payload for q_mm_embed (pixels =
    * PngCodec.synthPixel(doc_id, x, y), encoded by javax.imageio).
    */
  private val synthPngUdf =
    udf((d: Long) => graft.operators.PngCodec.synthPng(d, 16, 16))

  /** Real deterministic JPEG payload + real-decode round-trip metrics for
    * q_mm_jpeg (source pixels = PngCodec.synthPixel(doc_id, x, y), encoded
    * and decoded by the JDK's own JPEG codec).
    */
  private val synthJpegUdf =
    udf((d: Long) => graft.operators.PngCodec.synthJpeg(d, 16, 16))
  private val jpegRoundTripUdf = udf((b: Array[Byte], d: Long) =>
    graft.operators.PngCodec.jpegRoundTrip(b, d, nBands = 8))

  /** Real deterministic WAV payload + real-decode window sums for
    * q_mm_audio (samples = WavCodec.synthSample(doc_id, i); decode through
    * the JDK's javax.sound.sampled RIFF/WAVE parser).
    */
  private val wavWindowsUdf = udf((d: Long) =>
    graft.operators.WavCodec.decodeWindows(
      graft.operators.WavCodec.synthWav(d, nSamples = 256), nWindows = 8))

  private def checkQ(stage: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => stage(norm(s, dir))
      .select(col("doc_id"), col(Cols.Dqc).cast("int").as("dqc"))
      .orderBy("doc_id")

  /** checkQ with a non-default config (normalize must see the same config
    * the stage runs with — e.g. priorities are stamped at normalize time).
    */
  private def checkQCfg(cfg: CascadeConfig)(stage: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => stage(Ingest.normalize(Docs.pages(s, dir), cfg))
      .select(col("doc_id"), col(Cols.Dqc).cast("int").as("dqc"))
      .orderBy("doc_id")

  /** Flagship: the full quality-filter cascade on sf=0.001. */
  def entry(spark: SparkSession): DataFrame =
    Cascade.run(Docs.pages(spark, "/root/testdata/sf0.001"), docCfg)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- cascade checks (SURVEY.md §2.2/§2.4) ----
    "q_check_metadata"     -> checkQ(RowChecks.metadata.transform(_, docCfg)),
    "q_check_plausibility" -> checkQ(RowChecks.plausibility.transform(_, docCfg)),
    "q_check_langbounds"   -> checkQ(RowChecks.langBounds.transform(_, docCfg)),
    "q_check_repetition"   -> checkQ(RowChecks.repetition.transform(_, docCfg)),
    // toxicity (504) over text planted with a deterministic per-doc dose of
    // one lexicon word — the driver tables contain no lexicon terms (like
    // q_scrub's synthetic PII suffix; doses 0–12 vs word counts 10–99, so
    // both outcomes occur at any SF). The plant word is DERIVED from the
    // lexicon (head of ScrubPatterns.ToxWords, same derivation as the
    // oracle's) so a lexicon swap can never silently make the test vacuous.
    "q_check_toxicity" -> ((s, dir) => {
      val plant = graft.functions.ScrubPatterns.ToxWords.head
      val pages = Docs.pages(s, dir).withColumn(Cols.Text,
        concat(col(Cols.Text), expr(s"repeat(' $plant', CAST(doc_id % 13 AS INT))")))
      RowChecks.toxicity.transform(Ingest.normalize(pages, docCfg), docCfg)
        .select(col("doc_id"), col(Cols.Dqc).cast("int").as("dqc"))
        .orderBy("doc_id")
    }),
    "q_check_langmismatch" -> checkQ(RowChecks.langMismatchHeuristic.transform(_, docCfg)),
    "q_check_buddy"        -> checkQ(Neighborhood.buddyOnce(_, docCfg)),
    "q_check_buddy_multi"  -> checkQCfg(buddyMultiCfg)(Neighborhood.buddyOnce(_, buddyMultiCfg)),
    "q_check_buddy_prio"   -> checkQCfg(buddyPrioCfg)(Neighborhood.buddyOnce(_, buddyPrioCfg)),
    "q_check_sct"          -> checkQ(Neighborhood.sctOnce(_, docCfg)),
    "q_check_dual"         -> checkQ(Neighborhood.dualOnce(_, docCfg)),
    "q_check_isolation"    -> checkQ(Neighborhood.isolationOnce(_, docCfg)),
    // convergence iteration (reference iterates every spatial check,
    // buddy.r:97,209; i.sct=10 in test/ini/ta_sct.ini:7): two rounds, the
    // second over the round-1 survivors only — tighter z so round 2 flags
    // strictly more than round 1 at the oracle SFs (removing an outlier
    // shrinks its neighborhood's MAD)
    "q_check_sct_iter" -> ((s, dir) => {
      Cascade.iterate(norm(s, dir), sctIterCfg.sctMaxIter, sctIterCfg.sctBreakAt, FlagCodes.Sct)(
        Neighborhood.sctOnce(_, sctIterCfg))
        .select(col("doc_id"), col(Cols.Dqc).cast("int").as("dqc"))
        .orderBy("doc_id")
    }),
    // cross-field (301) over html synthesized to disagree with text on a
    // deterministic subset (Docs.pages' html never can, see docCfg note)
    "q_check_crossfield" -> ((s, dir) => {
      val pages = Docs.pages(s, dir).withColumn(Cols.Html,
        when(pmod(col("doc_id"), lit(3)) === 0,
          encode(col("text").substr(lit(1), pmod(col("doc_id"), lit(120)).cast("int")), "UTF-8"))
          .otherwise(col(Cols.Html)))
      RowChecks.crossField.transform(Ingest.normalize(pages, docCfg), docCfg)
        .select(col("doc_id"), col(Cols.Dqc).cast("int").as("dqc"))
        .orderBy("doc_id")
    }),
    "q_cascade" -> ((s, dir) =>
      Cascade.run(Docs.pages(s, dir), docCfg)
        .select(col("doc_id"), col(Cols.Dqc).cast("int").as("dqc"), col(Cols.KeepCol).as("keep"))
        .orderBy("doc_id")),

    // The snapshot form under the SAME oracle as q_cascade: the cluster/
    // resume form (every stage committed as a payload-pruned TableIO
    // snapshot, labels re-joined at the end — the north_rule's "restarts
    // from the last committed snapshot" path) must label every doc exactly
    // like the in-memory Cascade.run. rows+schema+hash parity here is the
    // gate that snapshot commits introduce no semantic drift.
    "q_cascade_resumable" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("resumable_q").toString
      Cascade.runResumable(Docs.pages(s, dir), docCfg, root)
        .select(col("doc_id"), col(Cols.Dqc).cast("int").as("dqc"), col(Cols.KeepCol).as("keep"))
        .orderBy("doc_id")
    }),

    // The check-level reject-count metrics table (north_rule: "check-level
    // reject counts to a metrics table"), rolled up over the partition-
    // lineage dimension so DuckDB can model it: per-(domain, flag) doc
    // counts of the labeled corpus.
    "q_cascade_metrics" -> ((s, dir) =>
      Cascade.metrics(Cascade.run(Docs.pages(s, dir), docCfg))
        .groupBy(col(Cols.Domain), col(Cols.Dqc).cast("int").as("dqc"))
        .agg(sum("n_docs").cast("long").as("n_docs"))
        .orderBy(Cols.Domain, "dqc")),

    // Structured-Streaming twin of q_cascade — the continuous-ingest form
    // (readStream file source → foreachBatch full cascade → TableIO
    // snapshot commit per micro-batch). One available-now micro-batch spans
    // the whole corpus here, so the batch boundary IS the statistics
    // boundary (the documented per-snapshot semantics: one WARC segment =
    // one neighborhood-statistics window) and the labels must match the
    // batch twin byte-for-byte — same DuckDB oracle as q_cascade.
    "q_stream_cascade" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val out = java.nio.file.Files.createTempDirectory("stream_cascade").toString
      val schema = Docs.read(s, dir).schema
      // the file source wants a directory; the sf dir holds one file per
      // table, so glob-filter to the documents table
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val q = graft.streaming.StreamingFilter
        .microBatchCascade(Docs.pagesFrom(src), docCfg) { (labeled, _) =>
          graft.io.TableIO.write(
            labeled.select(col("doc_id"), col(Cols.Dqc).cast("int").as("dqc"),
              col(Cols.KeepCol).as("keep")),
            out, "labeled")
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$out/ckpt")
        .start()
      q.awaitTermination()
      graft.io.TableIO.read(s, out, "labeled").orderBy("doc_id")
    }),

    // Multi-batch streaming twin: the corpus split into TWO file-source
    // micro-batches (maxFilesPerTrigger = 1 over two slice files), each
    // running the complete cascade and committing its own TableIO snapshot —
    // the hard gate that "one micro-batch = one neighborhood-statistics
    // window" (batch boundary = statistics boundary). The oracle is two
    // independent per-slice DuckDB cascade runs unioned, so rows+schema+hash
    // parity proves the per-batch statistics isolation, not just row counts.
    "q_stream_batches" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val out = java.nio.file.Files.createTempDirectory("stream_batches").toString
      val docs = Docs.read(s, dir)
      val inDir = java.nio.file.Paths.get(out, "in")
      java.nio.file.Files.createDirectories(inDir)
      // ONE partitioned write job produces both slice files (was two
      // sequential coalesce(1) write jobs); the partition column is
      // excluded from the data files, so each slice carries exactly the
      // documents schema, and repartition(1) yields one file per slice
      val stage = s"$out/stage"
      docs.withColumn("_par", pmod(col("doc_id"), lit(2)).cast("int"))
        .repartition(1)
        .write.partitionBy("_par").parquet(stage)
      // a parity with no rows writes no _par=<p> directory: that slice is
      // simply absent, and the other one streams as a single micro-batch
      Seq(0, 1).foreach { par =>
        Option(new java.io.File(s"$stage/_par=$par").listFiles()).toSeq.flatten
          .find(_.getName.endsWith(".parquet"))
          .foreach(part => java.nio.file.Files.move(part.toPath, inDir.resolve(s"b$par.parquet")))
      }
      val src = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
      val q = graft.streaming.StreamingFilter
        .microBatchCascade(Docs.pagesFrom(src), docCfg) { (labeled, _) =>
          graft.io.TableIO.write(
            labeled.select(col("doc_id"), col(Cols.Dqc).cast("int").as("dqc"),
              col(Cols.KeepCol).as("keep")),
            out, "labeled")
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$out/ckpt")
        .start()
      q.awaitTermination()
      // one committed snapshot per micro-batch; union them by snapshot id
      // (TableIO time travel) — disjoint slices, so order is irrelevant
      val m = graft.io.TableIO.readManifest(out, "labeled")
        .getOrElse(throw new IllegalStateException("no snapshots committed"))
      m.snapshots.map(sn => graft.io.TableIO.read(s, out, "labeled", Some(sn.id)))
        .reduce(_.unionByName(_)).orderBy("doc_id")
    }),

    // ---- text-analysis operators (feature pass; SURVEY.md §2.3 spatconv analog) ----
    // the feature pass through the native single-pass TextStatsExpr (the
    // exact path the cascade runs); the oracle keeps the built-in formulas,
    // so this row is a direct cross-engine parity check of the native scan
    "q_text_stats" -> ((s, dir) => {
      val t = col("text")
      val st = col("_st")
      val nw = TextFeatures.nWordsOf(st)
      Docs.read(s, dir)
        .withColumn("_st", TextFeatures.textStats(t))
        .select(
          col("doc_id"),
          st("nchars").as("f_nchars"),
          nw.as("f_nwords"),
          TextFeatures.meanWordLenOf(st).as("f_mwl"),
          TextFeatures.symbolRatioOf(st).as("f_symr"),
          TextFeatures.stopwordRatioOf(st, nw).as("f_stopr"),
          TextFeatures.distinctWordRatioOf(st, nw).as("f_dwr"),
          TextFeatures.fingerprint(t).as("f_fp")
        ).orderBy("doc_id")
    }),

    // ---- dedup operators ----
    "q_dedup_exact" -> ((s, dir) =>
      Docs.read(s, dir)
        .groupBy(TextFeatures.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keep_id"))
        .orderBy("fp")),

    // corpus-level line dedup (CCNet/RefinedWeb shape): keep the first
    // occurrence of every 10-word line across the whole corpus, report
    // per-doc survival + the reassembled-text fingerprint
    "q_dedup_lines" -> ((s, dir) =>
      Dedup.lineDedup(Docs.read(s, dir), "text", "doc_id", wordsPerLine = 10)
        .orderBy("doc_id")),

    // benchmark decontamination: docs sharing any 3-gram with the held-out
    // "benchmark" split (doc_id % 20 == 7); the benchmark shingle set is
    // broadcast — the 100 TB shape for eval-contamination removal
    "q_decontaminate" -> ((s, dir) => {
      val d = Docs.read(s, dir)
      Dedup.decontaminate(
        d.filter(pmod(col("doc_id"), lit(20)) =!= 7),
        d.filter(pmod(col("doc_id"), lit(20)) === 7),
        "text", "doc_id", n = 3)
        .orderBy("doc_id")
    }),

    // deterministic stratified sampling: per-lang hash-threshold keep rates,
    // zero-shuffle row-local filter (resumable + reproducible at 10^12 docs)
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedHash(Docs.read(s, dir), "doc_id", "lang",
          SampleRates, SampleDefaultRate, SampleSalt)
        .select("doc_id", "lang").orderBy("doc_id")),

    // CCNet-style per-lang quality terciles (head/middle/tail) with exact
    // cut points from the distinct-value histogram
    "q_quality_buckets" -> ((s, dir) =>
      Sampling.qualityBuckets(Docs.read(s, dir), "lang",
          TextFeatures.meanWordLen(col("text")))
        .select("doc_id", "lang", "bucket").orderBy("doc_id")),

    // ---- dedup operators (near-dup family) ----
    // CONTRACT NOTE: this query computes Jaccard over df-PRUNED shingle
    // sets (shingles shared by more than maxShingleDf docs are dropped
    // first — the standard stop-shingle inverted-index bound, and the only
    // shape that survives 100 TB). Pair recall and jaccard values therefore
    // differ from unpruned n-gram Jaccard by design; the oracle applies the
    // identical cap so values stay exact. Call ngramJaccard with
    // maxShingleDf = Int.MaxValue for the exact unpruned variant.
    "q_dedup_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(Docs.read(s, dir), "text", "doc_id",
          n = 3, threshold = 0.2, maxShingleDf = 100)
        .orderBy("id_a", "id_b")),
    // CONTRACT NOTE: CANDIDATES-ONLY (no similarity confirm — the LSH
    // guarantee is probabilistic recall at the (bands, rowsPerBand)
    // S-curve; exact Jaccard confirmation is q_dedup_jaccard's job).
    // rowsPerBand = 2 so a band key is a hash PAIR (r = 1 makes every doc
    // sharing one popular min-shingle collide), and maxBucketSize caps the
    // residual hot buckets before the self-join — the only shape whose
    // candidate count stays near-linear at 100 TB. The oracle applies the
    // identical banding + cap, so pairs stay exact.
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(Docs.read(s, dir), "text", "doc_id",
          n = 3, bands = 2, rowsPerBand = 2, maxBucketSize = 100)
        .orderBy("id_a", "id_b")),
    // 64-bit simhash (4×16-bit words) — the scale form; the banded pairs
    // query below is the bucket-join + exact-hamming-confirm path
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhash64(Docs.read(s, dir), "text", "doc_id").orderBy("doc_id")),
    // maxHamming = 3: pigeonhole-complete for the 4-band bucketing (see the
    // recall contract on Dedup.simhashPairs64 — a larger radius needs more
    // bands, not a wider confirm filter)
    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs64(Docs.read(s, dir), "text", "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // ---- multimodal binary-column plumbing (decode step stubbed; see
    // operators/Multimodal.scala) — payload synthesized deterministically
    // from the documents table so the oracle can mirror it in hex space ----
    "q_mm_meta" -> ((s, dir) => {
      val m = Docs.read(s, dir).withColumn("_bin", mmBin)
      m.select(
        col("doc_id"),
        Multimodal.sniffFormat(col("_bin")).as("mm_format"),
        length(col("_bin")).cast("int").as("n_bytes"),
        md5(hex(substring(col("_bin"), 1, 64))).as("head_fp"))
        .orderBy("doc_id")
    }),
    "q_mm_frames" -> ((s, dir) =>
      Docs.read(s, dir).withColumn("_bin", mmBin)
        .select(col("doc_id"),
          explode(Multimodal.frameSample(col("_bin"), 4, 32)).as("f"))
        .select(col("doc_id"), col("f.frame_no").as("frame_no"),
          col("f.offset").as("offset"), hex(col("f.chunk")).as("chunk_hex"))
        .orderBy("doc_id", "frame_no")),
    // REAL decode + pooled embedding: each doc gets an actual 16×16 PNG
    // (pixels a pure integer function of doc_id, encoded by the JDK's own
    // codec), and the features come from DECODED PIXELS — zlib inflate,
    // filter reconstruction and CRCs all really run. PNG is lossless, so
    // the oracle recomputes the same pixel math directly in SQL and the
    // row is a hard rows+schema+hash gate on the real decode path.
    "q_mm_embed" -> ((s, dir) =>
      Multimodal.imageEmbedding(
        Docs.read(s, dir).select(col("doc_id"))
          .withColumn("_png", synthPngUdf(col("doc_id").cast("long"))),
        "_png", "doc_id", nBands = 8)
        .orderBy("doc_id")),
    // REAL JPEG decode (huffman + dequant + inverse DCT + YCbCr→RGB via the
    // JDK's own codec): each doc gets an actual 16×16 JPEG of known source
    // pixels; the output asserts decoded-vs-source error bounds (pixel MAE
    // ≤ 48, per-band mean error ≤ 16 — measured real-decode worst case is
    // 24.8/3.8, a broken decode reads ≈127 on both), dims, and the sniffed
    // magic. JPEG is lossy so the pixels themselves aren't SQL-predictable;
    // the PASS/FAIL outcome is, making this a hard rows+schema+hash gate on
    // the real decode path (PngCodec.jpegRoundTrip scaladoc).
    "q_mm_jpeg" -> ((s, dir) =>
      Docs.read(s, dir).select(col("doc_id"))
        .withColumn("_jpg", synthJpegUdf(col("doc_id").cast("long")))
        .withColumn("_rt", jpegRoundTripUdf(col("_jpg"), col("doc_id").cast("long")))
        .select(col("doc_id"),
          Multimodal.sniffFormat(col("_jpg")).as("mm_format"),
          col("_rt.width").as("width"), col("_rt.height").as("height"),
          (col("_rt.pixelMae") <= lit(48.0) &&
            col("_rt.maxBandErr") <= lit(16.0)).as("decode_ok"))
        .orderBy("doc_id")),
    // REAL WAV decode (RIFF chunk walk + fmt validation + PCM16 frame
    // extraction via javax.sound.sampled): each doc gets a spec-valid mono
    // PCM16 WAV of closed-form samples; PCM is lossless, so the per-window
    // exact integer sample sums from DECODED frames are mirrored directly
    // by the SQL oracle — the same hard-gate shape as the PNG path.
    "q_mm_audio" -> ((s, dir) =>
      Docs.read(s, dir).select(col("doc_id"))
        .withColumn("_aw", wavWindowsUdf(col("doc_id").cast("long")))
        .select(
          col("doc_id") +:
            col("_aw.sampleRate").as("sample_rate") +:
            col("_aw.channels").as("channels") +:
            col("_aw.nSamples").as("n_samples") +:
            (0 until 8).map(i =>
              element_at(col("_aw.windowSums"), i + 1).as(s"ws_$i")): _*)
        .orderBy("doc_id")),

    // ---- similarity search over embeddings ----
    "q_ann_topk" -> ((s, dir) =>
      Similarity.cosineTopK(s.read.parquet(s"$dir/embeddings.parquet"),
          "embedding", "vec_id", Seq(0L, 1L, 2L, 3L, 4L), k = 5)
        .orderBy("query_id", "rank")),
    "q_ann_pairs" -> ((s, dir) =>
      Similarity.annPairs(s.read.parquet(s"$dir/embeddings.parquet"),
          "embedding", "vec_id", nPlanes = 8, threshold = 0.25)
        .orderBy("id_a", "id_b")),
    "q_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(s.read.parquet(s"$dir/embeddings.parquet"),
          "embedding", "vec_id", Seq(0L, 1L, 2L, 3L, 4L), k = 5,
          nCentroids = 8, nProbe = 2)
        .orderBy("query_id", "rank")),
    "q_dedup_embed" -> ((s, dir) =>
      Dedup.embeddingNearDup(s.read.parquet(s"$dir/embeddings.parquet"),
          "embedding", "vec_id", nPlanes = 8, threshold = 0.25)
        .select(col("vec_id")).orderBy("vec_id")),
    "q_text_rollhash" -> ((s, dir) =>
      Docs.read(s, dir).select(col("doc_id"),
        TextFeatures.rollingHash(col("text")).as("roll_fp")).orderBy("doc_id")),

    // ---- PII scrub (windcorr analog; byte-exact regex parity) ----
    "q_scrub" -> ((s, dir) =>
      Docs.read(s, dir).select(
        col("doc_id"),
        Scrubber.scrub(concat(col("text"), lit(" user"), col("doc_id"),
          lit("@mail.example 555-123-4567 123-45-6789"))).as("scrubbed"))
        .orderBy("doc_id")),
    // windcorr-style adjusted~raw regression report (rr_windcorr.r:219-225)
    "q_scrub_report" -> ((s, dir) => {
      val raw = concat(col("text"), lit(" user"), col("doc_id"),
        lit("@mail.example 555-123-4567 123-45-6789"))
      val d = Docs.read(s, dir)
        .withColumn(Cols.Domain, col("source"))
        .withColumn("_raw", raw)
        .withColumn("_scr", Scrubber.scrub(col("_raw")))
      ModelChecks.scrubReport(d, col("_raw"), col("_scr")).orderBy("domain")
    }),

    // ---- repetition quality signals (Gopher-style top/dup n-gram
    // fractions; row-local sorted-run fold, no shuffle) ----
    "q_text_repetition" -> ((s, dir) =>
      RepetitionOp.features(Docs.read(s, dir))
        .select("doc_id", "rep_top2_frac", "rep_dup2_frac",
          "rep_top3_frac", "rep_dup3_frac")
        .orderBy("doc_id")),

    // ---- token counting (whitespace + BPE-ish regex) ----
    "q_text_tokens" -> ((s, dir) =>
      Docs.read(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).cast("int").as("n_tokens_regex"),
        TextFeatures.nWords(col("text")).as("n_tokens_ws"))
        .orderBy("doc_id")),

    // ---- relational operators (SURVEY.md §2.5) ----
    "q_agg_lineitem" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty"),
          sum(round(col("l_extendedprice") * lit(100)).cast("bigint")).as("price_cents"),
          sum(round((col("l_extendedprice") * (lit(1.0) - col("l_discount"))) * lit(100))
            .cast("bigint")).as("revenue_cents"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q_window_topk" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),
    "q_join_agg" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * lit(100)).cast("bigint")).as("total_cents"))
        .orderBy("n_name")
    }),
    "q_anti_join" -> ((s, dir) => {
      // customers with no large order: anti join against a filtered build side
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 300000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy("c_custkey")
    }),
    "q_union_distinct" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_nationkey").as("k"))
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_nationkey").as("k"))
      c.union(sup).distinct().orderBy("k")
    }),
    "q_events_daily" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * lit(100)).cast("bigint")).as("value_cents"))
        .orderBy("event_type", "day")),

    // langid over the seed-profile model in its exact-integer-scoring form
    // (LangId.detectExact — same trigrams, same profiles, same cosine
    // geometry as the cascade's detect; the scoring is reformulated onto
    // exact integers + a pinned IEEE op chain precisely so the row has a
    // hard rows+schema+hash DuckDB oracle, OracleSql.qLangIdExact.
    // FeatureSpec pins argmax agreement between the two scoring forms).
    "q_langid" -> ((s, dir) => {
      val det = udf((t: String) => graft.ml.LangId.detectExact(t))
      Docs.read(s, dir).select(col("doc_id"), det(col("text")).as("det"))
        .select(col("doc_id"), col("det._1").as("det_lang"), col("det._2").as("det_conf"))
        .orderBy("doc_id")
    }),

    // ---- model-based operators (no SQL oracle: rows-only gate; verified
    // by the FixtureF1Spec F1 gates instead) ----
    "q_cascade_full" -> ((s, dir) => {
      val pages = Docs.pages(s, dir)
      val models = trainedModels(s, dir)
      Cascade.run(pages, docCfg.copy(enabled = CascadeConfig.allChecks),
          Some(models), PagesGen.exemplarTexts())
        .select(col("doc_id"), col(Cols.Dqc).cast("int").as("dqc"), col(Cols.KeepCol).as("keep"),
          col(Cols.ScrubbedText))
        .orderBy("doc_id")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_check_metadata"     -> OracleSql.qMetadata(docCfg),
    "q_check_plausibility" -> OracleSql.qPlausibility(docCfg),
    "q_check_langbounds"   -> OracleSql.qLangBounds(docCfg),
    "q_check_repetition"   -> OracleSql.qRepetitionCheck(docCfg),
    "q_check_toxicity"     -> OracleSql.qToxicityCheck(docCfg),
    "q_check_langmismatch" -> OracleSql.qLangMismatch(docCfg),
    "q_check_buddy"        -> OracleSql.qBuddy(docCfg),
    "q_check_buddy_multi"  -> OracleSql.qBuddyMulti(buddyMultiCfg),
    "q_check_buddy_prio"   -> OracleSql.qBuddyPrio(buddyPrioCfg),
    "q_check_sct"          -> OracleSql.qSct(docCfg),
    "q_check_dual"         -> OracleSql.qDual(docCfg),
    "q_check_isolation"    -> OracleSql.qIsolation(docCfg),
    "q_check_sct_iter"     -> OracleSql.qSctIter(sctIterCfg),
    "q_check_crossfield"   -> OracleSql.qCrossField,
    "q_cascade"            -> OracleSql.qCascade(docCfg),
    // the snapshot-committed form must agree with the in-memory form doc
    // for doc, so it shares the oracle verbatim
    "q_cascade_resumable"  -> OracleSql.qCascade(docCfg),
    "q_cascade_metrics"    -> OracleSql.qCascadeMetrics(docCfg),
    // the streaming twin commits per-micro-batch snapshots of the SAME
    // cascade — one available-now batch = the whole corpus, so the batch
    // oracle applies verbatim (rows+schema+hash parity is the gate that the
    // streaming path introduces no semantic drift)
    "q_stream_cascade"     -> OracleSql.qCascade(docCfg),
    // two micro-batches = two independent per-slice cascades (statistics
    // windows are batch-local by design); the oracle runs each slice's full
    // cascade separately and unions
    "q_stream_batches"     -> OracleSql.qCascadeSliced(docCfg,
      Seq("doc_id % 2 = 0", "doc_id % 2 = 1")),
    "q_langid"             -> OracleSql.qLangIdExact,
    "q_text_stats" ->
      s"""SELECT doc_id, ${OracleSql.nc} AS f_nchars, ${OracleSql.nw} AS f_nwords,
         |${OracleSql.mwl} AS f_mwl, ${OracleSql.symr} AS f_symr,
         |${OracleSql.stopr} AS f_stopr, ${OracleSql.dwr} AS f_dwr,
         |${OracleSql.fingerprint} AS f_fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      s"""SELECT ${OracleSql.fingerprint} AS fp, CAST(COUNT(*) AS BIGINT) AS n_dups,
         |CAST(MIN(doc_id) AS BIGINT) AS keep_id
         |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "q_agg_lineitem" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(COUNT(*) AS BIGINT) AS n_rows,
        |CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
        |CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_dedup_lines"     -> OracleSql.qLineDedup(10),
    "q_decontaminate"   -> OracleSql.qDecontaminate(3, 20, 7),
    "q_sample_stratified" ->
      OracleSql.qSampleStratified(SampleRates, SampleDefaultRate, SampleSalt),
    "q_quality_buckets" -> OracleSql.qQualityBuckets,
    "q_dedup_jaccard" -> OracleSql.qDedupJaccard(3, 0.2, 100),
    "q_dedup_minhash" -> OracleSql.qDedupMinhash(3, 2, 2, 100),
    "q_dedup_simhash" -> OracleSql.qSimhash64,
    "q_simhash_pairs" -> OracleSql.qSimhashPairs64(3),
    "q_ann_topk"      -> OracleSql.qAnnTopK(Seq(0L, 1L, 2L, 3L, 4L), 5),
    "q_ann_pairs"     -> OracleSql.qAnnPairs(8, 0.25),
    "q_ann_ivf"       -> OracleSql.qIvfTopK(Seq(0L, 1L, 2L, 3L, 4L), 5, 8, 2),
    "q_dedup_embed"   -> OracleSql.qDedupEmbed(8, 0.25),
    "q_text_rollhash" -> OracleSql.qRollHash,
    "q_text_repetition" -> OracleSql.qRepetition,
    "q_mm_meta"       -> OracleSql.qMmMeta,
    "q_mm_frames"     -> OracleSql.qMmFrames(4, 32),
    "q_mm_embed"      -> OracleSql.qMmEmbed(16, 16, 8),
    "q_mm_jpeg"       -> OracleSql.qMmJpeg(16, 16),
    "q_mm_audio"      -> OracleSql.qMmAudio(256, 8, 8000),
    "q_scrub"         -> OracleSql.qScrub,
    "q_scrub_report"  -> OracleSql.qScrubReport,
    "q_text_tokens" ->
      s"""SELECT doc_id,
         |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_tokens_regex,
         |${OracleSql.nw} AS n_tokens_ws
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_join_agg" ->
      """SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_union_distinct" ->
      """SELECT DISTINCT k FROM (
        |  SELECT c_nationkey AS k FROM customer
        |  UNION ALL SELECT s_nationkey AS k FROM supplier)
        |ORDER BY k""".stripMargin,
    "q_events_daily" ->
      """SELECT event_type, date_trunc('day', ts) AS day,
        |CAST(COUNT(*) AS BIGINT) AS n_events,
        |CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin
  )
}

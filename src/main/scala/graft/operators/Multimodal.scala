package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column operators: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata, exactly how the engine's `html`
  * column already works (BASELINE.json input_hint `html: binary`; the
  * reference's analog is the opaque NetCDF grid payload consulted by checks,
  * /root/reference/functions/IO/netcdf_util.r:154-488).
  *
  * The Spark-side plumbing — schema, slicing, batch shape, partitioning —
  * is real and tested. The decode step is REAL for every format the JDK
  * itself ships a codec for: PNG/BMP/GIF and JPEG via `javax.imageio`
  * ([[imageEmbedding]] / [[PngCodec]] — zlib inflate, filter
  * reconstruction, CRCs; huffman + inverse DCT for JPEG), and WAV PCM via
  * `javax.sound.sampled` ([[WavCodec]]) — each oracle-gated (bit-exactly
  * for the lossless formats, outcome-exactly for lossy JPEG). Only
  * MP4/video keeps the deterministic byte-derived STUB below (the JDK has
  * no video codec and this container has no media libraries); swapping
  * `decodeFeaturesStub` for a real decoder changes one column expression
  * (or one `mapPartitions` over `Dataset[Array[Byte]]` batching into the
  * native codec), nothing else — exactly the swap `imageEmbedding`,
  * `q_mm_jpeg`, and `q_mm_audio` already demonstrate.
  *
  * Everything except the clearly-marked stub is restricted to operations
  * with identical semantics in Spark and DuckDB (binary substring/hex/
  * length), so the plumbing has a SQL oracle.
  */
object Multimodal {

  /** Container format sniffed from magic bytes — the typed metadata a
    * 100 TB media lake partitions/filters on before any decode. Pure
    * column expressions over the first bytes; fuses into codegen.
    */
  def sniffFormat(bin: Column): Column = {
    val h8 = hex(substring(bin, 1, 8)) // 16 hex chars, uppercase in both engines
    when(bin.isNull, lit(null).cast("string"))
      .when(h8.startsWith("89504E47"), lit("png"))
      .when(h8.startsWith("FFD8FF"), lit("jpeg"))
      .when(h8.startsWith("474946"), lit("gif"))
      .when(h8.startsWith("52494646"), lit("riff")) // WAV/AVI outer container
      .when(substring(h8, 9, 8) === "66747970", lit("mp4")) // bytes 5-8 "ftyp"
      .when(h8.startsWith("3C68746D6C") || h8.startsWith("3C21444F43"), lit("html"))
      .otherwise(lit("unknown"))
  }

  /** Frame/chunk sampling: `n` fixed-width slices at evenly-spaced offsets —
    * the video-frame-sample / audio-window plumbing (a real decoder would
    * replace "slice bytes" with "decode frame at timestamp"). Returns
    * array<struct<frame_no:int, offset:int, chunk:binary>>; explode it for
    * per-frame processing. Slicing is per-row and shuffle-free; the
    * downstream per-frame work repartitions by (id, frame_no) if a frame is
    * heavier than a row.
    */
  def frameSample(bin: Column, n: Int, frameBytes: Int): Column = {
    val total = length(bin)
    transform(sequence(lit(0), lit(n - 1)), i => {
      // floor(i * (total - frameBytes) / max(n-1,1)) keeps slices in-range.
      // Exact-by-construction integer division: subtract the pmod remainder
      // before dividing, so the double quotient is an exact integer — a bare
      // `/` (double division + truncating cast) can disagree with the SQL
      // oracle's integer `//` for huge byte lengths.
      val span = greatest(total - lit(frameBytes), lit(0))
      val num  = i.cast("long") * span.cast("long")
      val den  = lit(math.max(n - 1, 1).toLong)
      val off  = ((num - pmod(num, den)) / den).cast("int")
      struct(
        i.cast("int").as("frame_no"),
        off.as("offset"),
        substring(bin, off + 1, lit(frameBytes)).as("chunk"))
    })
  }

  /** ============ STUB (MP4/video — no codec in the JDK or container) ======
    * Deterministic fake "decode + feature extract" for the one modality
    * nothing in this sandbox can decode: dims byte-derived
    * pseudo-activations in [0,1), each a pure function of the payload's
    * head fingerprint — stands in for `decode(frame).globalPool()`. Keeps
    * schema (array<double>), determinism, and per-row cost shape honest.
    * Portable: nibble-of-md5 arithmetic only. The REAL decode paths are
    * [[imageEmbedding]] (PNG), [[PngCodec.jpegRoundTrip]] (JPEG), and
    * [[WavCodec.decodeWindows]] (WAV PCM).
    */
  def decodeFeaturesStub(bin: Column, dims: Int): Column = {
    val fp = md5(hex(substring(bin, 1, 64)))
    transform(sequence(lit(0), lit(dims - 1)), i => {
      val nib = substring(md5(concat(i.cast("string"), lit("#"), fp)), 1, 4)
      // 4 hex nibbles -> int in [0, 65536) -> [0, 1)
      (conv(nib, 16, 10).cast("double") / lit(65536.0))
    })
  }

  /** REAL image decode → pooled embedding: each payload goes through the
    * JDK's actual PNG/BMP/GIF codec ([[PngCodec.decodeBands]]) and the
    * decoded pixels are pooled into `nBands` horizontal-band features,
    * normalized to [0,1] by the exact integer denominator
    * width·height·(768/nBands) (two exactly-representable integers, one
    * IEEE division — bit-identical in the SQL oracle).
    *
    * Scale shape: the decode is a per-row black-box codec call — exactly
    * how a production media lake decodes (row-local, no shuffle, scales
    * linearly with executors; the explode-per-frame variant in
    * [[mmFeatures]] is the knob when single payloads are huge). A Scala UDF
    * is the right vehicle here: the codec dominates the row-codec crossing,
    * and unlike the text hot path there is no fused-codegen span to break
    * (the pipeline is scan → decode → write).
    */
  def imageEmbedding(df: DataFrame, binCol: String, idCol: String,
                     nBands: Int = 8): DataFrame = {
    require(768 % nBands == 0, s"nBands=$nBands must divide 768 (=3*256) for the exact-integer normalizer")
    val dec = udf((b: Array[Byte]) => PngCodec.decodeBands(b, nBands))
    val denom = (col("width") * col("height") * lit(768 / nBands)).cast("double")
    val bands = (0 until nBands).map(i =>
      (element_at(col("_img.bandSums"), i + 1).cast("double") / denom).as(s"emb_$i"))
    df.withColumn("_img", dec(col(binCol)))
      .withColumn("width", col("_img.width"))
      .withColumn("height", col("_img.height"))
      .select(col(idCol) +: col("width") +: col("height") +: bands: _*)
  }

  /** End-to-end multimodal feature table: sampled frames + (stubbed)
    * per-frame features averaged to a document embedding. The shape a
    * training-data pipeline needs: one scan, per-row slicing, explode for
    * per-frame parallelism, groupBy to reassemble — at scale the explode is
    * what lets 1 000 executors share the decode of a skewed shard of huge
    * videos instead of one task pinning on the biggest file.
    */
  def mmFeatures(df: DataFrame, binCol: String, idCol: String,
                 nFrames: Int = 4, frameBytes: Int = 32, dims: Int = 8): DataFrame = {
    val frames = df
      .select(col(idCol), posexplode(frameSample(col(binCol), nFrames, frameBytes)))
      .select(col(idCol), col("col.frame_no").as("frame_no"),
        col("col.offset").as("offset"), col("col.chunk").as("chunk"))
    val perFrame = frames.withColumn("feat", decodeFeaturesStub(col("chunk"), dims))
    frameMean(perFrame, idCol, "feat", dims)
  }

  /** Element-wise mean of a per-frame feature column, reassembled per doc:
    * one aggregation of zipped arrays. The mean divides by the COLLECTED
    * frame count, not a nominal frames-per-doc constant: a payload yielding
    * fewer frames than requested (however the sampler evolves) must not
    * silently bias the mean toward zero.
    */
  def frameMean(perFrame: DataFrame, idCol: String, featCol: String,
                dims: Int): DataFrame =
    perFrame
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_frames"),
        aggregate(
          collect_list(col(featCol)),
          array((0 until dims).map(_ => lit(0.0)): _*),
          (acc, x) => zip_with(acc, x, (a, b) => a + b)).as("_featsum"))
      .withColumn("embedding",
        transform(col("_featsum"), v => v / col("n_frames").cast("double")))
      .drop("_featsum")
}

package perfbench

import java.nio.file.{Files, Paths}
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.PagesGen

/** Input generation, from the seed alone: the same seed gives the same
  * inputs (every row is a pure function of (seed, id)). It runs before any
  * engine call, is not timed, and the measured code reads only the parquet
  * written here.
  */
object Gen extends Serializable {

  /** Docs per segment_stream slice: one WARC-segment-sized snapshot. */
  val SliceDocs = 2000L
  /** Docs generated for model training (the clean ones are kept). */
  val TrainDocs = 3000L

  def generate(spark: SparkSession, out: String, workload: String, seed: Long, docs: Long): Unit =
    workload match {
      case "segment_stream" =>
        require(docs % SliceDocs == 0, s"docs must be a multiple of $SliceDocs")
        val gen = PagesGen.generate(spark, docs, seed).cache()
        gen.select("url", "ge").write.parquet(s"$out/truth")
        slices(gen, s"$out/slices", docs, SliceDocs)
        gen.unpersist()
        PagesGen.generateWithClass(spark, TrainDocs, seed ^ 0x5eedL)
          .filter(col("clazz") === "clean").select("text", "lang")
          .write.parquet(s"$out/train")
      case "near_dup" =>
        nearDup(spark, out, seed, docs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** The program's input relation: exactly (url, warc_ts, html, text, lang). */
  def pages(df: DataFrame): DataFrame = df.select("url", "warc_ts", "html", "text", "lang")

  /** Cut a corpus into consecutive slices of `sliceDocs` docs, one parquet
    * file per slice, named in slice order.
    */
  private def slices(gen: DataFrame, dir: String, docs: Long, sliceDocs: Long): Unit = {
    val n = ((docs + sliceDocs - 1) / sliceDocs).toInt
    val staged = s"$dir/_staged"
    pages(gen)
      .withColumn("_s", (regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long") / sliceDocs)
        .cast("int"))
      .repartition(n, col("_s"))
      .write.partitionBy("_s").parquet(staged)
    for (i <- 0 until n) {
      val files = new java.io.File(s"$staged/_s=$i").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      require(files.length == 1, s"slice $i: expected one file, found ${files.length}")
      Files.move(files.head.toPath, Paths.get(dir, f"s$i%05d.parquet"))
    }
    deleteRecursively(new java.io.File(staged))
  }

  /** Vector dimension and cluster count of the near_dup embeddings: those
    * of the repository's test data (embeddings.parquet: 64-dim unit
    * vectors, 10 labels, centroid norm 0.07–0.14).
    */
  val Dim = 64
  val Clusters = 10
  /** One in [[CopyEvery]] PagesGen rows (those with at least
    * [[MinCopyWords]] words) gets a planted near-duplicate copy.
    */
  val CopyEvery = 5
  val MinCopyWords = 10
  /** Per-component noise of a planted vector copy (cosine ≈ 0.999). */
  val CopyNoise = 0.005

  /** The near_dup inputs. `text` holds (doc_id, text): the PagesGen corpus
    * (doc_id = the id in its url) plus one planted copy, doc_id = docs +
    * source id, of one in [[CopyEvery]] of its rows, with one word replaced
    * by another word of the same text. `vecs` holds (vec_id, embedding):
    * seeded unit vectors for the same ids, each copy its source plus small
    * noise. `pairs` holds the planted (src, copy) id pairs, the ground truth
    * every operator's recall is checked against.
    */
  private def nearDup(spark: SparkSession, out: String, seed: Long, docs: Long): Unit = {
    import spark.implicits._
    def rng(salt: Long, id: Long) = new Random(seed * 1000003L + salt * 7919L + id * 2654435761L)
    val base = PagesGen.generate(spark, docs, seed)
      .select(regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long").as("doc_id"), col("text"))
      .as[(Long, String)]
    val copies = base.flatMap { case (id, text) =>
      val w = text.split(" ")
      val r = rng(1, id)
      if (Math.floorMod(id + seed, CopyEvery) != 0 || w.length < MinCopyWords) None
      else {
        val i = r.nextInt(w.length)
        w(i) = w((i + 1 + r.nextInt(w.length - 1)) % w.length)
        Some((docs + id, w.mkString(" ")))
      }
    }
    base.union(copies).toDF("doc_id", "text").write.parquet(s"$out/text")
    val pairs = spark.read.parquet(s"$out/text").filter(col("doc_id") >= docs)
      .select((col("doc_id") - docs).as("src"), col("doc_id").as("copy"))
    pairs.write.parquet(s"$out/pairs")
    val centres = Array.tabulate(Clusters) { k =>
      val r = rng(2, k)
      Array.fill(Dim)(r.nextGaussian() * 0.1 / math.sqrt(Dim))
    }
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def baseVec(id: Long): Array[Double] = {
      val r = rng(3, id)
      val c = centres(r.nextInt(Clusters))
      unit(Array.tabulate(Dim)(j => c(j) + r.nextGaussian() / math.sqrt(Dim))).map(_.toDouble)
    }
    spark.read.parquet(s"$out/text").select("doc_id").as[Long].map { id =>
      if (id < docs) (id, unit(baseVec(id)))
      else {
        val r = rng(4, id)
        (id, unit(baseVec(id - docs).map(x => x + CopyNoise * r.nextGaussian())))
      }
    }.toDF("vec_id", "embedding").write.parquet(s"$out/vecs")
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Engine-recommended Spark session settings, shared by every driver-contract
  * main (Bench / Verify / ScalingBench). These are tuning defaults,
  * not semantics: every operator produces identical results under stock
  * configuration.
  *
  * The skew settings are the at-scale backstop for the cascade's stats
  * join-backs (see Neighborhood.sizeDiscovered): when a per-group stats table
  * is genuinely large (10⁷–10⁸ registered domains at 100 TB) the join-back is
  * a sort-merge join co-partitioned on the group key, and a zipf domain
  * distribution concentrates the corpus side — measured on a 2M-doc synthetic
  * crawl as a 141 MB hot partition against a 17 MB median, i.e. real skew
  * sitting comfortably under AQE's stock 256 MB split threshold. Scaling the
  * advisory target and the skew threshold down (16 MB / 32 MB, keeping the
  * stock 2:1 ratio) makes AQE split exactly such partitions while leaving
  * well-behaved shuffles untouched; on a 1000-executor cluster the same two
  * knobs are the standard lever and only the absolute sizes change.
  *
  * The codegen settings compile generated code once per JVM. The class
  * cache (default 100 entries) is sized for the driver bench's query
  * surface: at 100, the cascade's ~30 units were evicted between re-runs
  * (q_cascade 7.3 s in-bench vs 1.7 s cold). Whole-stage class names
  * otherwise embed the per-query stage id, so identical plans never hit.
  * The cache is keyed by (context classloader, source), and with artifact
  * isolation on, an executor runs each task under a classloader of its
  * session (`Executor.TaskRunner.obtainSession`, keyed by session UUID):
  * every fresh session — a near-dup pass, a streaming query's clone —
  * missed the cache and ran un-JITted classes (traced near_dup: 73 janino
  * compiles, 1.05 s of a ~5 s pass; 0 with isolation off). The engine adds
  * no session artifacts, and the setting, read at session creation, is
  * inherited by `newSession()` and streaming clones.
  */
object GraftSession {
  val tuning: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.artifact.isolation.enabled" -> "false")

  def tune(b: SparkSession.Builder): SparkSession.Builder =
    tuning.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}

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
  */
object GraftSession {
  val tuning: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")

  def tune(b: SparkSession.Builder): SparkSession.Builder =
    tuning.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}

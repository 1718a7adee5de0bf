package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row
import graft.cascade.Cascade
import graft.model.CascadeConfig
import graft.stages.{Cols, Ingest, Models}

/** Structured-Streaming form of the quality filter — continuous crawl
  * ingest (`readStream` on the landing table → transforms → `writeStream`).
  *
  * Two fidelity levels, both over the same stage definitions as the batch
  * engine (no second implementation to drift):
  *
  *  - [[rowLocalPrefix]]: every stateless check (metadata, html backfill,
  *    PII scrub, model features, cross-field, lang-mismatch, plausibility,
  *    lang-bounds, fgt, sct_fg — all pure projections with broadcast model
  *    lookups) lifted directly onto a streaming DataFrame. One
  *    whole-stage-codegen span per micro-batch, no state store, unlimited
  *    throughput. Optionally deduplicates by url within the watermark
  *    window (the streaming analog of the batch ingest-time duplicate
  *    drop, read_data_to_check.r:122-143).
  *
  *  - [[microBatchCascade]]: the FULL cascade (neighborhood checks
  *    included) via `foreachBatch`. Each micro-batch is one run of the
  *    cascade's stage loop with local checkpoints (Cascade.run), so
  *    buddy/sct statistics are computed within the batch window. This is a
  *    documented approximation: a batch boundary is a statistics boundary.
  *    It matches how the reference processes one observation snapshot per
  *    invocation (titan.r is a per-snapshot batch job), and at crawl scale
  *    a micro-batch of one WARC segment is exactly the snapshot
  *    granularity a production pipeline wants.
  *
  * The batch cascade remains the primary surface (SURVEY.md §1.2 scopes the
  * engine as per-snapshot batch); this adapter exists because a 100 TB
  * training-data pipeline ingests continuously and the row-local prefix —
  * which rejects the large majority of defective docs — should not wait
  * for a nightly batch.
  */
object StreamingFilter {

  /** Stateless checks + final decision on a streaming (or batch) frame.
    *
    * `watermarkDedup = Some(delay)` inserts `withWatermark(warc_ts, delay)
    * .dropDuplicates(url, warc_ts)` after normalization — bounded-state
    * exact dedup within the lateness window (Spark drops state older than
    * the watermark, so memory is bounded by window × arrival rate, not
    * corpus size).
    */
  def rowLocalPrefix(pages: DataFrame, cfg: CascadeConfig,
                     models: Option[Models] = None,
                     watermarkDedup: Option[String] = None): DataFrame = {
    val normalized = Ingest.normalize(pages, cfg)
    val deduped = watermarkDedup match {
      case Some(delay) if normalized.isStreaming =>
        normalized.withWatermark(Cols.WarcTs, delay)
          .dropDuplicates(Cols.Url, Cols.WarcTs)
      case _ => normalized
    }
    val prepared = Ingest.stampLists(deduped, cfg)
    val labeled = Cascade.stages(cfg, models)
      .filterNot(_.selfRef) // stateless subset, original order preserved
      .foldLeft(prepared) { case (d, s) => s.f(d) }
    Cascade.finalDecision(labeled)
  }

  /** Full-cascade streaming writer: each micro-batch runs the complete
    * cascade in its local form (Cascade.run: all neighborhood checks, local
    * checkpoints swept per stage) and `sink` receives the
    * labeled frame plus the batch id — typically a snapshot-commit
    * `TableIO.write` (idempotent by batchId) of the labeled table and the
    * per-partition metrics table.
    */
  def microBatchCascade(pages: DataFrame, cfg: CascadeConfig,
                        models: Option[Models] = None,
                        pseudoTexts: Seq[String] = Nil)
                       (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    pages.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(Cascade.run(batch, cfg, models, pseudoTexts), batchId)
    }
  }
}

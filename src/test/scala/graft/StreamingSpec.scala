package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.cascade.Cascade
import graft.io.PagesGen
import graft.streaming.StreamingFilter

object StreamingSpec {
  // exactly the input_hint relation shape
  final case class Page(url: String, warc_ts: java.sql.Timestamp,
                        html: Array[Byte], text: String, lang: String)
}

/** Structured-Streaming surface: the streaming row-local prefix must label
  * identically to the batch run of the same stages (same stage defs, no
  * second implementation), watermark dedup must bound duplicates, and the
  * foreachBatch full cascade must match a batch Cascade.run per batch.
  */
class StreamingSpec extends SparkSpec {
  import StreamingSpec.Page

  private def corpus(n: Long): Seq[Page] =
    (0L until n).map { id =>
      val r = PagesGen.row(id, 42L, PagesGen.AllClasses)
      Page(r.url, r.warc_ts, r.html, r.text, r.lang)
    }

  test("streaming row-local prefix labels identically to the batch form") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val rows = corpus(400L)
    val cfg = Fixture.cfg

    val in = MemoryStream[Page]
    val q = StreamingFilter.rowLocalPrefix(in.toDF(), cfg)
      .select("url", "dqc", "keep", "scrubbed_text")
      .writeStream.format("memory").queryName("rl_stream")
      .outputMode("append").start()
    in.addData(rows)
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("rl_stream")
      .orderBy("url").collect().map(_.toSeq).toSeq
    val batch = StreamingFilter.rowLocalPrefix(rows.toDF(), cfg)
      .select("url", "dqc", "keep", "scrubbed_text")
      .orderBy("url").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("watermark dedup: in-window duplicate urls collapse to one row") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val rows = corpus(50L)
    val in = MemoryStream[Page]
    val q = StreamingFilter.rowLocalPrefix(in.toDF(), Fixture.cfg,
        watermarkDedup = Some("1 hour"))
      .select("url")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    in.addData(rows ++ rows.take(10)) // 10 exact duplicates in-batch
    q.processAllAvailable(); q.stop()
    val out = spark.table("dedup_stream")
    assert(out.count() === out.select("url").distinct().count())
    assert(out.count() === 50L)
  }

  test("foreachBatch full cascade matches a batch Cascade.run per micro-batch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val rows = corpus(300L)
    val cfg = Fixture.cfg

    var got: Seq[(String, Int, Boolean)] = Nil
    val in = MemoryStream[Page]
    val q = StreamingFilter.microBatchCascade(in.toDF(), cfg) { (labeled, _) =>
      got = labeled.select("url", "dqc", "keep")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getBoolean(2))).toSeq
    }.start()
    in.addData(rows)
    q.processAllAvailable(); q.stop()

    val want = Cascade.run(rows.toDF(), cfg)
      .select("url", "dqc", "keep")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getBoolean(2))).toSeq
    assert(got.nonEmpty && got.sortBy(_._1) === want.sortBy(_._1))
  }

  test("an empty stream slice runs the full cascade once over no rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("empty_slice").toString
    val empty = Seq.empty[Page].toDS()
    empty.write.mode("overwrite").parquet(dir)
    var calls = 0
    var rows = -1L
    val q = StreamingFilter.microBatchCascade(
        spark.readStream.schema(empty.schema).parquet(dir),
        Fixture.cfg, None, PagesGen.exemplarTexts()) { (labeled, _) =>
      calls += 1
      rows = labeled.count()
    }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty)
    assert(calls === 1 && rows === 0L)
  }

  test("q_stream_batches: a doc_id parity with no rows leaves the other slice intact") {
    val dir = java.nio.file.Files.createTempDirectory("one_parity").toString
    graft.io.Docs.read(spark, sfDir).filter(col("doc_id") % 2 === 0)
      .write.parquet(s"$dir/documents.parquet")
    val streamed = SparkEntry.queries("q_stream_batches")(spark, dir).collect()
    // one non-empty slice is one micro-batch over every doc: the batch twin
    val batch = SparkEntry.queries("q_cascade")(spark, dir).collect()
    assert(streamed.nonEmpty && streamed === batch)
  }
}

package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger => SparkTrigger}
import graft.io.{PagesGen, TableIO}
import graft.model.CascadeConfig
import graft.operators.{Dedup, Similarity}
import graft.stages.{Cols, Models}
import graft.streaming.StreamingFilter

/** Order-independent digest of an operator's output. */
final case class Digest(rows: Long, xor: Long, sum: Long) {
  override def toString: String = f"rows=$rows xor=$xor%016x sum=$sum"
}

/** Cascade inputs: the trained models, the exemplar texts and the keep/drop
  * scoring against PagesGen's `ge`.
  */
object Crawl {
  def models(c: Ctx): Models =
    Models.train(c.spark, c.spark.read.parquet(s"${c.data}/train"))

  val exemplars: Seq[String] = PagesGen.exemplarTexts()

  /** keep/drop F1 of `labeled` against the generator's ground truth, with
    * drop as the positive class (as FixtureF1Spec scores it).
    */
  def keepF1(c: Ctx, labeled: DataFrame): Double = {
    val truth = c.spark.read.parquet(s"${c.data}/truth")
    val drop = !col(Cols.KeepCol)
    val bad = col("ge") === 1
    def n(p: org.apache.spark.sql.Column) = coalesce(sum(when(p, 1L).otherwise(0L)), lit(0L))
    val r = labeled.select(Cols.Url, Cols.KeepCol).join(truth, Seq(Cols.Url))
      .agg(n(drop && bad), n(drop && !bad), n(!drop && bad)).head()
    Stats.f1(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** The corpus cut into WARC-segment-sized slice files, streamed with
  * maxFilesPerTrigger = 1 through microBatchCascade; a TableIO.write sink
  * commits each micro-batch. Slices are released to the source directory
  * a chunk at a time and each chunk runs as one restart of the query on
  * the same checkpoint, so the first batch after every restart measures
  * restart → committed labels (resume_s). op_p50_s is the median over every
  * batch, restart batches included: once warm, a restart batch takes no
  * longer than the next one, and pooling doubles the samples of a run.
  */
final class SegmentStream extends Workload {
  /** Slices released per query restart. */
  val Chunk = 2
  /** Untimed chunks at set-up. */
  val WarmChunks = 2
  val cfg: CascadeConfig = PagesGen.matchingConfig
  private var models: Models = _
  private var pending: List[java.io.File] = Nil
  private var schema: org.apache.spark.sql.types.StructType = _
  private var released = 0

  private def dirs(c: Ctx, tag: String) =
    (s"${c.work}/$tag/in", s"${c.work}/$tag/ckpt", s"${c.work}/$tag/out")

  private def slicesOf(dir: String): List[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toList

  /** Release `files` to the source and run the query until they are all
    * committed; every micro-batch is one op.
    */
  private def runChunk(c: Ctx, tag: String, files: Seq[java.io.File], sliceDocs: Long): Unit = {
    val (in, ckpt, out) = dirs(c, tag)
    Files.createDirectories(Paths.get(in))
    files.foreach { f =>
      Files.copy(f.toPath, Paths.get(in, f.getName))
    }
    c.unit("chunk") {
      // an op is one trigger cycle: from the previous batch's commit (or
      // the restart) to this batch's commit
      c.startStorage()
      var cycleStart = System.nanoTime()
      var firstBatch = true
      val src = c.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in)
      val q = StreamingFilter.microBatchCascade(src, cfg, Some(models), Crawl.exemplars) {
        (labeled, _) =>
          val res =
            try {
              val before = TableIO.currentSnapshot(out, "labeled")
              c.rec.span("io.write") {
                TableIO.write(labeled.select(Cols.Url, Cols.Dqc, Cols.KeepCol), out, "labeled")
              }
              val m = TableIO.readManifest(out, "labeled").get
              val rows = m.snapshots.find(_.id == m.current).map(_.rows).getOrElse(0L)
              val err =
                if (TableIO.currentSnapshot(out, "labeled") == before) Some("no snapshot committed")
                else if (rows < sliceDocs * 9 / 10 || rows > sliceDocs)
                  Some(s"segment committed $rows labels for $sliceDocs docs")
                else None
              Right((sliceDocs, err))
            } catch { case e: Throwable => Left(e) }
          val now = System.nanoTime()
          val r = c.record(if (firstBatch) "restart" else "segment", (now - cycleStart) / 1e9, res)
          if (firstBatch && r.ok) c.resume += r.seconds
          firstBatch = false
          c.startStorage()
          cycleStart = System.nanoTime()
      }.trigger(SparkTrigger.AvailableNow()).option("checkpointLocation", ckpt).start()
      // the cascade runs inside foreachBatch before the sink: if it throws,
      // the query dies, and the cycle in flight is the failed op
      try q.awaitTermination()
      catch {
        case e: StreamingQueryException =>
          c.record(if (firstBatch) "restart" else "segment", (System.nanoTime() - cycleStart) / 1e9,
            Left(e))
          throw new Aborted(e)
      }
    }
    graft.ScalingBench.reapCheckpoints(c.spark)
  }

  def setup(c: Ctx): Unit = {
    models = c.phase("train_s")(Crawl.models(c))
    pending = slicesOf(s"${c.data}/slices")
    schema = c.spark.read.parquet(pending.head.getPath).schema
    // the first chunks of the stream run untimed: the query, its
    // checkpoint and the sink table exist, and the JIT has compiled both
    // kinds of op, before the first timed one
    c.phase("warmup_s")((1 to WarmChunks).foreach(_ => step(c)))
  }

  override def hasMore(c: Ctx): Boolean = pending.nonEmpty

  def step(c: Ctx): Unit = {
    val (now, rest) = pending.splitAt(Chunk)
    pending = rest
    released += now.size
    runChunk(c, "main", now, Gen.SliceDocs)
  }

  def finish(c: Ctx): Unit = {
    val (in, _, out) = dirs(c, "main")
    val input = c.spark.read.schema(schema).parquet(in)
    val labeled = committed(c, out).cache()
    val dupUrls = labeled.groupBy(Cols.Url).count().filter(col("count") > 1).count()
    val foreign = labeled.join(input, Seq(Cols.Url), "left_anti").count()
    // docs without a label must be exact duplicates that the ingest dedup
    // dropped: another doc with the same normalized text was labelled
    val seg = input_file_name().as("_f")
    val inFp = input.select(col(Cols.Url), seg,
      graft.functions.TextFeatures.fingerprint(col(Cols.Text)).as("_fp"))
    val unlabeled = inFp.join(labeled, Seq(Cols.Url), "left_anti")
    val keepers = inFp.join(labeled.select(Cols.Url), Seq(Cols.Url)).select("_f", "_fp")
    val unexplained = unlabeled.join(keepers, Seq("_f", "_fp"), "left_anti").count()
    val nIn = input.count()
    c.check("segment_stream labels every input doc exactly once",
      dupUrls == 0 && foreign == 0 && unexplained == 0,
      s"$nIn docs in ${released} segments: $dupUrls labelled twice, $foreign foreign, " +
        s"$unexplained unlabelled without an exact duplicate")
    // per-segment statistics label a little differently from one batch
    // over the whole corpus; 0.95 still catches a broken cascade
    val f1 = Crawl.keepF1(c, labeled)
    c.keepF1 = Some(f1)
    c.check("keep_f1>=0.95", f1 >= 0.95, s"keep_f1=$f1")
    labeled.unpersist()
  }

  /** The union of every committed snapshot of the sink table. */
  private def committed(c: Ctx, out: String): DataFrame =
    TableIO.readManifest(out, "labeled").get.snapshots
      .map(s => TableIO.read(c.spark, out, "labeled", Some(s.id))).reduce(_ unionByName _)

  def layers(c: Ctx): Unit = {
    val traced = c.units.flatMap(_.ops).filter(_.ok)
    val n = math.max(traced.size, 1).toDouble
    val writes = c.rec.spansNamed("io.write")
      .filter(s => c.units.exists(u => s.startMs >= u.span.startMs && s.endMs <= u.span.endMs))
    c.put("io.writes", writes.size / n, "count")
    c.put("io.write_s", writes.map(_.seconds).sum / n, "s")
    val (_, _, out) = dirs(c, "main")
    val snaps = TableIO.readManifest(out, "labeled").get.snapshots
    val t0 = System.nanoTime()
    snaps.foreach(s => Layers.scan(TableIO.read(c.spark, out, "labeled", Some(s.id))))
    c.put("io.read_s", (System.nanoTime() - t0) / 1e9 / math.max(snaps.size, 1), "s")
    val trig = c.rec.takeTriggers().filter(_.rows > 0)
    val m = math.max(trig.size, 1).toDouble
    def d(t: Trigger, k: String) = t.durationMs.getOrElse(k, 0L) / 1000.0
    c.put("stream.trigger_overhead_s",
      trig.map(t => d(t, "triggerExecution") - d(t, "addBatch")).sum / m, "s")
    c.put("stream.plan_s", trig.map(d(_, "queryPlanning")).sum / m, "s")
    c.put("stream.wal_s", trig.map(t => d(t, "walCommit") + d(t, "commitOffsets")).sum / m, "s")
    val slice = c.spark.read.schema(schema).parquet(slicesOf(s"${c.data}/slices").head.getPath)
    Layers.kernels(c, slice, models)
    Layers.stages(c, slice, cfg, models, Crawl.exemplars, "segment")
  }
}

/** The dedup and similarity operators, called with the parameters the
  * engine registers them with (SparkEntry's q_dedup_jaccard,
  * q_dedup_minhash, q_simhash_pairs, q_ann_pairs and q_ann_ivf): n-gram
  * Jaccard, MinHash LSH and 64-bit SimHash pairs over PagesGen corpus text
  * with planted near-duplicate copies, and ANN pairs and IVF top-k over
  * seeded vectors with planted near copies. One op is one pass that calls
  * each operator once: the median of single calls would be the time of
  * whichever operator sorts into the middle, while a pass moves with every
  * operator.
  *
  * The workload keeps no state between passes, so a restart is a fresh
  * session that re-reads the inputs. Every pass starts with one, and
  * resume_s is the time from the restart to the first operator's checked
  * output.
  *
  * Every call is checked as it returns: its output digest must equal that
  * of the run's first pass, and it must find enough of the planted pairs
  * (an IVF query's top-k must hold its planted copy).
  */
final class NearDup extends Workload {
  private var planted: Long = 0L
  /** Docs per pass: the corpus and the planted copies. */
  private var docs: Long = 0L
  private var queries: Seq[Long] = Nil
  private val first = scala.collection.mutable.HashMap.empty[String, Digest]
  /** Lowest planted recall per operator over the run's passes. */
  private val recall = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** (name, input, call, output key columns, minimum planted recall). The
    * floors sit below the lowest per-pass recall measured over seeds
    * 601–620 (jaccard 1.0, minhash 0.87, simhash 0.69, ann 0.88), with room
    * for sampling noise: the LSH operators are probabilistic by contract.
    * IVF is approximate too: a copy can fall into a centroid the query does
    * not probe (seed 612: one of five queries), so its floor is
    * OperatorSpec's recall contract at nProbe = 2, 0.6. A call that returns
    * nothing or a truncated result misses them.
    */
  private def ops: Seq[(String, String, DataFrame => DataFrame, (String, String), Double)] = Seq(
    ("jaccard", "text", d => Dedup.ngramJaccard(d, "text", "doc_id",
      n = 3, threshold = 0.2, maxShingleDf = 100), ("id_a", "id_b"), 0.9),
    ("minhash", "text", d => Dedup.minhashLsh(d, "text", "doc_id",
      n = 3, bands = 2, rowsPerBand = 2, maxBucketSize = 100), ("id_a", "id_b"), 0.75),
    ("simhash", "text", d => Dedup.simhashPairs64(d, "text", "doc_id", maxHamming = 3),
      ("id_a", "id_b"), 0.5),
    ("ann", "vecs", d => Similarity.annPairs(d, "embedding", "vec_id",
      nPlanes = 8, threshold = 0.25), ("id_a", "id_b"), 0.75),
    ("ivf", "vecs", d => Similarity.ivfTopK(d, "embedding", "vec_id", queries, k = TopK,
      nCentroids = 8, nProbe = 2), ("query_id", "neighbor_id"), 0.6))

  val WarmPasses = 3
  val TopK = 5

  def setup(c: Ctx): Unit = {
    import c.spark.implicits._
    val pairs = c.spark.read.parquet(s"${c.data}/pairs").as[(Long, Long)].collect().sorted
    planted = pairs.length.toLong
    docs = c.docs + planted
    // the five queries q_ann_ivf asks for, here sources of planted copies
    queries = pairs.take(5).map(_._1).toSeq
    // untimed passes, checked like the timed ones: the first compiles the
    // operators' code, over the rest the JIT settles (measured on 4 cores
    // at 2 500 docs: after two warm-up passes of 11 and 6.5 s the timed
    // passes still fell from 5.8 to 4.9 s; after three, from 5.0 to 4.6 s)
    c.phase("warmup_s") {
      (1 to WarmPasses).foreach { k =>
        c.phase(s"warmup_pass${k}_s") {
          val (secs, _, res) = pass(c)
          c.record("warmup", secs, res)
        }
        graft.ScalingBench.reapCheckpoints(c.spark)
      }
    }
  }

  /** The inputs read in `session`, keyed "text" and "vecs". */
  private def inputs(c: Ctx, session: org.apache.spark.sql.SparkSession): Map[String, DataFrame] = {
    c.rec.attach(session)
    Map("text" -> session.read.parquet(s"${c.data}/text"),
      "vecs" -> session.read.parquet(s"${c.data}/vecs"))
  }

  /** Digest of `out` and the number of planted pairs among its `key` pairs,
    * in one aggregation that forces the whole call.
    */
  private def checked(c: Ctx, out: DataFrame, cols: Seq[String], key: (String, String)): (Digest, Long) = {
    val truth = out.sparkSession.read.parquet(s"${c.data}/pairs")
      .select(col("src").as("_pa"), col("copy").as("_pb"), lit(1L).as("_hit"))
    val h = xxhash64(cols.map(col): _*)
    val r = out.join(broadcast(truth), col(key._1) === col("_pa") && col(key._2) === col("_pb"), "left")
      .agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
        coalesce(sum(pmod(h, lit(2147483647L))), lit(0L)), coalesce(sum(col("_hit")), lit(0L)))
      .head()
    (Digest(r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))
  }

  /** One pass: a restart, then the five calls, each checked as it returns.
    * Its time is the restart plus the calls; between calls, untimed, the
    * checkpoint blocks of the finished call are released, so its peak
    * storage is that of the largest call. Returns the pass time, the
    * restart → first checked output time, and the outcome.
    */
  private def pass(c: Ctx): (Double, Double, Either[Throwable, (Long, Option[String])]) = {
    val sc = c.spark.sparkContext
    val t0 = System.nanoTime()
    var secs = 0.0
    var resume = 0.0
    val res = try {
      val in = inputs(c, c.spark.newSession())
      secs += (System.nanoTime() - t0) / 1e9
      val errs = ops.flatMap { case (name, i, f, key, floor) =>
        val t1 = System.nanoTime()
        val (d, hits) = c.rec.span(s"ops.$name") {
          val out = f(in(i))
          checked(c, out, out.columns.toSeq.filter(Set(key._1, key._2, "rank")), key)
        }
        val t2 = System.nanoTime()
        secs += (t2 - t1) / 1e9
        if (resume == 0.0) resume = (t2 - t0) / 1e9
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val want = if (name == "ivf") queries.size.toLong else planted
        recall(name) = math.min(recall.getOrElse(name, 1.0), hits.toDouble / want)
        val err =
          if (hits < floor * want) Some(s"$name found $hits of $want planted pairs (floor $floor)")
          else if (name == "ivf" && d.rows != queries.size * TopK)
            Some(s"ivf returned ${d.rows} rows for ${queries.size} queries, k = $TopK")
          else first.get(name).filter(_ != d).map(r => s"$name digest $d differs from the run's first $r")
        if (!first.contains(name) && err.isEmpty) first(name) = d
        err
      }
      Right((docs, errs.headOption))
    } catch { case e: Throwable => Left(e) }
    (secs, resume, res)
  }

  def step(c: Ctx): Unit = {
    c.unit("op.pass") {
      c.startStorage()
      val (secs, resume, res) = pass(c)
      if (c.record("pass", secs, res).ok) c.resume += resume
    }
    graft.ScalingBench.reapCheckpoints(c.spark)
  }

  def finish(c: Ctx): Unit = {
    // keep/drop F1 of dedup's drop decisions (the larger id of each Jaccard
    // pair) over the docs whose truth is known: a planted copy is to be
    // dropped, its source kept. Other docs of the corpus may be near
    // duplicates of each other by chance, which the generator does not
    // know, so they are not scored.
    val pairs = ops.head._3(c.spark.read.parquet(s"${c.data}/text"))
    val dropped = pairs.select(col("id_b").as("doc_id")).distinct().withColumn("drop", lit(true))
    val known = c.spark.read.parquet(s"${c.data}/pairs")
    val truth = known.select(col("copy").as("doc_id"), lit(true).as("dup"))
      .union(known.select(col("src"), lit(false)))
    val r = truth.join(dropped, Seq("doc_id"), "left")
      .select(col("dup"), coalesce(col("drop"), lit(false)).as("drop"))
      .agg(sum(when(col("drop") && col("dup"), 1L).otherwise(0L)),
        sum(when(col("drop") && !col("dup"), 1L).otherwise(0L)),
        sum(when(!col("drop") && col("dup"), 1L).otherwise(0L))).head()
    val f1 = Stats.f1(r.getLong(0), r.getLong(1), r.getLong(2))
    c.keepF1 = Some(f1)
    c.check("near_dup drop F1 >= 0.95", f1 >= 0.95, s"f1=$f1 (tp ${r.getLong(0)}, fp ${r.getLong(1)}, fn ${r.getLong(2)})")
    graft.ScalingBench.reapCheckpoints(c.spark)
    ops.foreach { case (name, _, _, _, floor) =>
      recall.get(name).foreach(r => c.check(s"$name planted recall >= $floor", r >= floor,
        s"lowest over passes $r"))
    }
    c.check("near_dup digests stable", first.size == ops.size,
      s"${first.size} of ${ops.size} operators produced a checked output")
  }

  def layers(c: Ctx): Unit = ops.foreach { case (name, _, _, _, _) =>
    val calls = c.rec.spansNamed(s"ops.$name")
      .filter(s => c.units.exists(u => u.ops.forall(_.ok) && s.parent == u.span.id))
    if (calls.nonEmpty) {
      val pairs = first.get(name).map(_.rows).getOrElse(0L)
      val rec = calls.map(s => c.rec.rollup(s.id).shuffleWriteRecords).sum / calls.size.toDouble
      c.put(s"ops.$name.s", Stats.median(calls.map(_.seconds)), "s")
      c.put(s"ops.$name.out_pairs", pairs.toDouble, "count")
      c.put(s"ops.$name.shuffle_records_per_pair", if (pairs == 0) 0.0 else rec / pairs, "ratio")
    }
  }
}

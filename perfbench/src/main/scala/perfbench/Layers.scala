package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cascade.Cascade
import graft.io.TableIO
import graft.ml.Scrubber
import graft.model.CascadeConfig
import graft.stages.{Cols, Ingest, Models}

/** Per-layer measurements that need their own calls into a layer's public
  * functions, made after the traced loop: row kernels, the ingest layer,
  * and each cascade stage on its own.
  */
object Layers {

  /** Cascade.stages keys under PagesGen.matchingConfig with trained models
    * and exemplar texts, in stage order. A flag code that two stages share
    * gets a letter suffix on its second stage.
    */
  val StageKeys: Seq[String] = Seq("901", "901b", "0", "0b", "301", "902", "501", "502",
    "503", "504", "4", "3", "11", "10", "2", "1", "800")
  /** Stages that aggregate over their own input (Cascade.StageDef.selfRef). */
  val SelfRefKeys: Seq[String] = Seq("4", "3", "10", "1", "800")
  val OpNames: Seq[String] = Seq("jaccard", "minhash", "simhash", "ann", "ivf")

  /** Every per-layer metric, with its unit, in report order. */
  val all: Seq[(String, String)] = Seq(
    "driver.plan_s" -> "s", "driver.jobs" -> "count", "driver.stages" -> "count",
    "driver.codegen_compiles" -> "count", "driver.codegen_s" -> "s", "driver.serial_s" -> "s",
    "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s", "exec.slot_busy_frac" -> "ratio",
    "exec.scan_mb" -> "MB", "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB",
    "io.writes" -> "count", "io.write_s" -> "s", "io.written_mb_per_kdoc" -> "MB",
    "io.read_s" -> "s",
    "ingest.s" -> "s", "ingest.dup_drop_frac" -> "ratio",
    "kernel.langid_ns" -> "ns", "kernel.lm_ns" -> "ns", "kernel.scrub_ns" -> "ns",
    "kernel.extract_ns" -> "ns") ++
    StageKeys.flatMap(k => Seq(s"stage.$k.s" -> "s", s"stage.$k.flagged" -> "count")) ++
    SelfRefKeys.map(k => s"stage.$k.shuffle_mb" -> "MB") ++
    Seq("stage.covered_frac" -> "ratio",
      "cascade.materializations" -> "count", "cascade.stored_mb" -> "MB",
      "stream.trigger_overhead_s" -> "s", "stream.plan_s" -> "s", "stream.wal_s" -> "s") ++
    OpNames.flatMap(o => Seq(s"ops.$o.s" -> "s", s"ops.$o.shuffle_records_per_pair" -> "ratio",
      s"ops.$o.out_pairs" -> "count")) ++
    Seq("trace.overhead_frac" -> "ratio", "host.control_s" -> "s", "host.steal_pct" -> "%",
      "host.iowait_pct" -> "%", "host.noisy" -> "count")

  val names: Seq[String] = all.map(_._1)
  def unitOf(name: String): String = all.toMap.apply(name)

  /** Scan every column of `df` once (one Spark action). */
  def scan(df: DataFrame): Long =
    df.select(hash(df.columns.map(col): _*).cast("long").as("h")).agg(sum("h")).head().getLong(0)

  /** Seconds to TableIO.read and fully scan every table committed under `root`. */
  def rereadSeconds(c: Ctx, root: String): Double = {
    val tables = new java.io.File(root).listFiles()
      .filter(d => new java.io.File(d, "manifest.json").exists()).map(_.getName).sorted
    val t0 = System.nanoTime()
    c.rec.span("io.read") { tables.foreach(t => scan(TableIO.read(c.spark, root, t))) }
    (System.nanoTime() - t0) / 1e9
  }

  @volatile private var blackhole = 0

  /** Single-thread ns per doc of the row kernels over a 2 000-doc sample:
    * the median of five ≥ 50 ms passes.
    */
  def kernels(c: Ctx, pages: DataFrame, models: Models): Unit = {
    val rows = pages.select(Cols.Text, Cols.Html).limit(2000).collect()
    val texts = rows.map(r => Option(r.getString(0)).getOrElse(""))
    val htmls = rows.flatMap(r => Option(r.getAs[Array[Byte]](1))).map(new String(_, "UTF-8"))
    def nsPerDoc(xs: Array[String])(f: String => Any): Double = {
      val passes = (1 to 5).map { _ =>
        var n = 0L
        val t0 = System.nanoTime()
        var sink = 0
        while (System.nanoTime() - t0 < 50000000L) {
          xs.foreach(x => sink += f(x).##)
          n += xs.length
        }
        val ns = (System.nanoTime() - t0).toDouble / n
        blackhole = sink // keeps the kernel results live
        ns
      }
      Stats.median(passes)
    }
    val lm = models.lms.head
    c.put("kernel.langid_ns", nsPerDoc(texts)(models.langId.detect), "ns")
    c.put("kernel.lm_ns", nsPerDoc(texts)(lm.logPerplexity), "ns")
    c.put("kernel.scrub_ns", nsPerDoc(texts)(Scrubber.scrubString), "ns")
    c.put("kernel.extract_ns", nsPerDoc(htmls)(Scrubber.extractTextString), "ns")
  }

  /** The ingest layer, then every Cascade.stages entry on its own: the
    * stage's StageDef.f plus one action, over an input the benchmark has
    * already materialized. `opKind` names the workload's op whose median
    * time the stage times are set against (stage.covered_frac).
    */
  def stages(c: Ctx, pages: DataFrame, cfg: CascadeConfig, models: Models,
             exemplars: Seq[String], opKind: String): Unit = {
    val rec = c.rec
    val nIn = pages.count()
    val t0 = System.nanoTime()
    val ingested = rec.span("layer.ingest") {
      Cascade.materialize(Ingest.stampLists(Ingest.features(
        Ingest.dropDuplicatePages(Ingest.normalizeCore(pages, cfg))), cfg), eager = true)
    }
    val ingestS = (System.nanoTime() - t0) / 1e9
    c.put("ingest.s", ingestS, "s")
    c.put("ingest.dup_drop_frac", 1.0 - ingested.count().toDouble / math.max(nIn, 1L), "ratio")

    val stageList = Cascade.stages(cfg, Some(models), exemplars)
    val seen = scala.collection.mutable.HashMap.empty[Int, Int]
    val keys = stageList.map { s =>
      val k = seen.getOrElse(s.code, 0)
      seen(s.code) = k + 1
      if (k == 0) s.code.toString else s"${s.code}${('a' + k).toChar}"
    }
    require(keys == StageKeys, s"cascade stages changed: ${keys.mkString(",")}")
    var cur = ingested
    var total = ingestS
    stageList.zip(keys).foreach { case (s, key) =>
      def flaggedUrls(d: DataFrame) =
        if (d.columns.contains(Cols.Dqc)) d.filter(col(Cols.Dqc) === s.code).select(Cols.Url)
        else d.select(Cols.Url).limit(0)
      var span: Option[Span] = None
      val t = System.nanoTime()
      val out = rec.span(s"stage.$key") {
        span = rec.current
        val o = s.f(cur)
        // the action reads the flag column, so the stage's checks run
        if (o.columns.contains(Cols.Dqc)) o.agg(count(when(col(Cols.Dqc) === s.code, 1))).head()
        else o.count()
        o
      }
      val secs = (System.nanoTime() - t) / 1e9
      total += secs
      c.put(s"stage.$key.s", secs, "s")
      rec.drain()
      if (s.selfRef)
        c.put(s"stage.$key.shuffle_mb",
          span.map(sp => rec.rollup(sp.id).shuffleWriteBytes / 1e6).getOrElse(0.0), "MB")
      // the next stage's input; every older block is released
      val sc = c.spark.sparkContext
      val pinned = sc.getPersistentRDDs.keySet.toSet
      val prev = cur
      cur = Cascade.materialize(out, eager = true)
      // rows this stage flagged. Not the change in the code's count: 901b
      // backfills text and re-checks 901, clearing some of 901's flags
      c.put(s"stage.$key.flagged",
        flaggedUrls(cur).join(flaggedUrls(prev), Seq(Cols.Url), "left_anti").count().toDouble, "count")
      val fresh = sc.getPersistentRDDs.keySet.toSet -- pinned
      sc.getPersistentRDDs.foreach { case (id, r) => if (!fresh(id)) r.unpersist(blocking = true) }
    }
    val opSecs = c.ops.filter(o => o.ok && o.kind == opKind).map(_.seconds).toSeq
    c.put("stage.covered_frac", if (opSecs.isEmpty) 0.0 else total / Stats.median(opSecs), "ratio")
    graft.ScalingBench.reapCheckpoints(c.spark)
  }
}

package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cascade.Cascade
import graft.io.{PagesGen, TableIO}
import graft.stages.Models

/** Two-cluster-size scaling evidence (BASELINE.json north_rule): run the
  * identical end-to-end filter job on the identical input at N and 4N
  * parallelism (local[8] vs local[32] — the sandbox proxy for N vs 4N
  * executors per the driver instruction) and report throughput at both plus
  * scaling efficiency = (t_N / t_4N) / 4. Target ≥ 0.8.
  *
  * The input corpus is written to parquet once, up front, so both sessions
  * scan byte-identical files; each session does one warm-up pass (JIT) and
  * then `reps` timed passes, keeping the best (steady-state throughput).
  *
  * Usage: runMain graft.ScalingBench [nDocs] [outJson]
  */
object ScalingBench {

  def session(cores: Int): SparkSession = {
    val b = GraftSession.tune(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      // 4 partitions per core, not 1: (a) skew headroom — with exactly
      // `cores` post-shuffle partitions one zipf-hot domain partition leaves
      // the other slots idle (measured: four 8-task stages at ~50% occupancy
      // in the 4M-doc local[8] event log, ~90 s of wall per rep); (b) a 4x
      // smaller aggregate in-flight working set (cores x partition size),
      // which is what inflates per-task CPU on one box as the corpus grows
      // (measured: task-time sum x1.42 going 2M->4M docs at local[8] while
      // local[2] stayed x1.07). AQE's parallelismFirst coalescing keeps
      // these partitions (>= 1 MB each at these corpus sizes). On a real
      // cluster the same 2-4x-cores rule is the standard setting.
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      // AQE's parallelismFirst coalescing floors at default parallelism
      // (= cores in local[k]), so post-shuffle stages coalesce to ragged
      // non-multiples of the slot count — measured in the c8 snapshot event
      // log as two 11-task stats-checkpoint jobs on 8 slots: 1.4 waves,
      // ~30 % idle slots for ~22 s each. Raising the floor to the same
      // 4×cores rule keeps whole waves (and matches what a real cluster
      // sets via spark.default.parallelism anyway).
      .config("spark.default.parallelism", (4 * cores).toString)
      // smaller scan splits for the same in-flight-bytes reason; the corpus
      // parquet is ~25 MB/file so this also splits multi-file packing
      .config("spark.sql.files.maxPartitionBytes", "32m")
      // AQE partition coalescing stays at its default (on). Turning it off
      // keeps whole waves of the 4x-cores partitions, but that won only at
      // 2M docs on 8 cores and lost at 32 cores and at 4M docs
      // (BENCH/scaling_r3.json, coalesce_ab): partitions should be sized by
      // data bytes, which is what coalescing does.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_LOCAL_DIR=<dir>: root Spark's shuffle/spill scratch there
    // (e.g. /dev/shm/...). On a real cluster node-local NVMe scratch scales
    // with node count; this box's one virtio disk does not, and it taxes
    // exactly the 4N level of the scaling pair (task-attributed
    // shuffle-write time measured ×5.6 from c2 to c8 on identical bytes) —
    // tmpfs is the single-box analog of storage that scales with the
    // cluster (BENCH/BASELINE.md §0, round-4 revision).
    val b2 = sys.env.get("SPARK_GRAFT_LOCAL_DIR").fold(b) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      b.config("spark.local.dir", dir)
    }
    // SPARK_GRAFT_EVENTLOG=<dir>: record the Spark event log so a run can be
    // decomposed post-hoc into task time vs driver-serial gaps (used to
    // attribute the core-count-invariant term in the scaling analysis).
    val withLog = sys.env.get("SPARK_GRAFT_EVENTLOG").fold(b2) { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      b2.config("spark.eventLog.enabled", "true").config("spark.eventLog.dir", dir)
    }
    val s = withLog.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def cascadeJob(spark: SparkSession, path: String, models: Models): Long = {
    // exactly the input_hint relation: (url, warc_ts, html, text, lang)
    val pages = spark.read.parquet(path).select("url", "warc_ts", "html", "text", "lang")
    val labeled = Cascade.run(pages, PagesGen.matchingConfig, Some(models), PagesGen.exemplarTexts())
    // count(keep) forces the full pipeline; no result materialization cost
    labeled.filter(org.apache.spark.sql.functions.col("keep")).count()
  }

  /** The SNAPSHOT form of the same job: the full cascade through
    * Cascade.runResumable — every stage committed as a payload-pruned TableIO
    * snapshot on real disk, final labels re-joined and committed. This is
    * the cluster-reliable path the 100 TB resumability story rests on
    * (localCheckpoint blocks die with their executor; committed snapshots
    * don't), so it gets its own gate pair. Each rep uses a fresh root
    * (cold, no committed progress) and tears it down after — the timed work
    * includes every snapshot write and re-read.
    */
  def snapshotJob(spark: SparkSession, path: String, models: Models): Long = {
    // SPARK_GRAFT_SNAP_ROOT=<dir>: put the per-rep snapshot tables there
    // (e.g. tmpfs) — the single-box analog of the object store a cluster's
    // snapshot commits would hit, which scales with the cluster while this
    // box's one virtual disk does not (see SPARK_GRAFT_LOCAL_DIR above).
    val root = sys.env.get("SPARK_GRAFT_SNAP_ROOT") match {
      case Some(dir) =>
        Files.createDirectories(java.nio.file.Paths.get(dir))
        Files.createTempDirectory(java.nio.file.Paths.get(dir), "graft_snap")
      case None => Files.createTempDirectory("graft_snap")
    }
    try {
      val pages = spark.read.parquet(path).select("url", "warc_ts", "html", "text", "lang")
      val labeled = Cascade.runResumable(pages,
        PagesGen.matchingConfig, root.toString, Some(models), PagesGen.exemplarTexts())
      labeled.filter(org.apache.spark.sql.functions.col("keep")).count()
    } finally TableIO.deleteRecursively(root)
  }

  /** Resume-equivalence at bench scale: a killed-after-2-stages run resumed
    * to completion must produce exactly the labels of an uninterrupted run
    * on the same input. Returns (match, nDocsCompared).
    */
  def resumeCheck(spark: SparkSession, path: String, models: Models): (Boolean, Long) = {
    val rootA = Files.createTempDirectory("graft_resume_a")
    val rootB = Files.createTempDirectory("graft_resume_b")
    try {
      val pages = spark.read.parquet(path).select("url", "warc_ts", "html", "text", "lang")
      val cfg = PagesGen.matchingConfig
      val full = Cascade.runResumable(pages, cfg,
        rootA.toString, Some(models), PagesGen.exemplarTexts())
      Cascade.runResumable(pages, cfg,
        rootB.toString, Some(models), PagesGen.exemplarTexts(), stopAfterStages = 2)
      val resumed = Cascade.runResumable(pages, cfg,
        rootB.toString, Some(models), PagesGen.exemplarTexts())
      // exact per-url label equality, distributed (no driver collect)
      val a = full.select("url", "dqc", "keep")
      val b = resumed.select("url", "dqc", "keep")
      val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
      (diff == 0L, a.count())
    } finally { TableIO.deleteRecursively(rootA); TableIO.deleteRecursively(rootB) }
  }

  /** Free checkpoint blocks left by a completed run — measurement hygiene:
    * without this a second rep starts with the previous rep's blocks still
    * pinned and measures eviction, not the job.
    */
  def reapCheckpoints(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def timeBest(reps: Int, spark: SparkSession)(f: => Unit): Double = {
    var best = Double.MaxValue
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      f
      val t = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scaling] rep$r ${t}%.1f s")
      best = math.min(best, t)
      reapCheckpoints(spark)
    }
    best
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 200000L
    val outJson = if (args.length > 1) Some(args(1)) else None
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // reuse a previously generated corpus dir (pages.parquet + warmup.parquet)
    val reuseDir = sys.env.get("SPARK_GRAFT_CORPUS_DIR")

    // materialize the identical input once (32-way for generation speed);
    // a small warm-up slice compiles codegen/JIT without paying a full pass
    val gen = session(32)
    val dir = reuseDir.getOrElse(Files.createTempDirectory("scalingbench").toString)
    val corpusPath = s"$dir/pages.parquet"
    val warmupPath = s"$dir/warmup.parquet"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(corpusPath)))
      PagesGen.generate(gen, nDocs).write.parquet(corpusPath)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(warmupPath)))
      PagesGen.generate(gen, math.min(nDocs, 100000L)).write.parquet(warmupPath)
    // published throughput must reflect the corpus actually scanned: a
    // reused dir with a different nDocs would otherwise silently skew
    // docs_per_sec (footer-only count — cheap)
    val actualDocs = gen.read.parquet(corpusPath).count()
    if (actualDocs != nDocs)
      System.err.println(
        s"[scaling] WARNING reused corpus has $actualDocs docs (requested $nDocs); reporting $actualDocs")
    System.err.println(s"[scaling] corpus ready at $dir ($actualDocs docs)")
    val models = Models.train(gen,
      PagesGen.generateWithClass(gen, 10000L)
        .filter(org.apache.spark.sql.functions.col("clazz") === "clean")
        .select("text", "lang"))
    gen.stop()
    System.err.println("[scaling] models trained")

    // SPARK_GRAFT_CORES lets a harness run each parallelism level in its
    // own JVM (the honest analog of two separate clusters — no leftover
    // heap/codegen state from the first level can slow the second).
    val coresList = sys.env.get("SPARK_GRAFT_CORES")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(8, 32))
    // SPARK_GRAFT_SCALING_MODE: checkpoint (default, localCheckpoint form) |
    // snapshot (Cascade.runResumable payload-pruned TableIO commits — the
    // cluster-reliable form) | both (side-by-side comparison)
    val modes = sys.env.getOrElse("SPARK_GRAFT_SCALING_MODE", "checkpoint") match {
      case "both" => Seq("checkpoint", "snapshot")
      case m      => Seq(m)
    }
    def job(mode: String)(s: SparkSession, path: String): Long =
      if (mode == "snapshot") snapshotJob(s, path, models)
      else cascadeJob(s, path, models)

    val lines = modes.flatMap { mode =>
      val results = coresList.map { cores =>
        val s = session(cores)
        job(mode)(s, warmupPath) // warm-up (JIT, codegen, footer cache)
        reapCheckpoints(s)
        System.err.println(s"[scaling] $mode local[$cores] warmed")
        val best = timeBest(reps, s)(job(mode)(s, corpusPath))
        s.stop()
        cores -> best
      }
      val sorted = results.sortBy(_._1)
      if (sorted.size == 2 && sorted(1)._1 == 4 * sorted(0)._1) {
        val (cN, tN) = sorted(0); val (c4N, t4N) = sorted(1)
        val eff = (tN / t4N) / 4.0
        Seq(f"""{"metric":"scaling_efficiency","mode":"$mode","value":$eff%.4f,"unit":"ratio","n_docs":$actualDocs,""" +
          f""""cores_n":$cN,"cores_4n":$c4N,"t_n_sec":$tN%.3f,"t_4n_sec":$t4N%.3f,""" +
          f""""docs_per_sec_n":${actualDocs / tN}%.1f,"docs_per_sec_4n":${actualDocs / t4N}%.1f,""" +
          f""""speedup_n_to_4n":${tN / t4N}%.3f}""")
      } else {
        sorted.map { case (c, t) =>
          f"""{"metric":"cascade_time","mode":"$mode","cores":$c,"value":$t%.3f,"unit":"sec","n_docs":$actualDocs,"docs_per_sec":${actualDocs / t}%.1f}"""
        }
      }
    }
    // SPARK_GRAFT_RESUME_CHECK=<cores>: after timing, verify at bench scale
    // that a killed-then-resumed snapshot run labels every doc exactly like
    // an uninterrupted run (the north_rule resumability claim, exercised on
    // the same corpus the gate pair is measured on).
    val resumeLine = sys.env.get("SPARK_GRAFT_RESUME_CHECK").map { cores =>
      val s = session(cores.toInt)
      val (ok, n) = resumeCheck(s, corpusPath, models)
      s.stop()
      s"""{"metric":"resume_equivalence","match":$ok,"n_docs":$n}"""
    }
    val json = (lines ++ resumeLine).mkString("\n")
    println(json)
    outJson.foreach(p => Files.write(java.nio.file.Paths.get(p), json.getBytes("UTF-8")))
  }
}

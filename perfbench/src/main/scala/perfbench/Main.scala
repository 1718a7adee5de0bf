package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}
import graft.ScalingBench

/** One timed op. A failed op (it threw, or its output check failed) keeps
  * its error and counts as infinitely slow in every latency statistic.
  */
final case class OpRec(kind: String, seconds: Double, docs: Long, error: Option[String],
                       stored: Stored) {
  def ok: Boolean = error.isEmpty
  def latency: Double = if (ok) seconds else Double.PositiveInfinity
}

/** A traced unit of work: one op, or for a stream one query run holding
  * several ops. Per-layer readings are taken per unit and divided by ops.
  */
final case class UnitRec(span: Span, ops: Seq[OpRec], compiles: Long, compileMs: Double)

/** Thrown out of a step by a workload that has recorded the op in flight
  * as failed and cannot go on; the loop ends and the result still prints.
  */
final class Aborted(cause: Throwable) extends RuntimeException(cause)

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** State shared by the loop, the workloads and the report. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val data: String,
                val work: String, val seed: Long, val docs: Long) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val units = mutable.ArrayBuffer.empty[UnitRec]
  /** restart → committed output, seconds */
  val resume = mutable.ArrayBuffer.empty[Double]
  /** named output checks that are not tied to one op: (name, passed, detail) */
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var keepF1: Option[Double] = None
  val layer = mutable.LinkedHashMap.empty[String, Metric]

  def check(name: String, ok: Boolean, detail: String = ""): Unit = checks += ((name, ok, detail))

  def put(name: String, value: Double, unit: String): Unit = layer(name) = Metric(name, value, unit)

  /** Named set-up phase durations, for the report. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases(name) = (System.nanoTime() - t0) / 1e9
  }

  /** Run `f` as a traced unit named `name`; the ops it records are its ops. */
  def unit[T](name: String)(f: => T): T =
    if (!rec.traced) f
    else {
      val (c0, ms0) = Codegen.reading()
      val n0 = ops.size
      var span: Option[Span] = None
      val r = rec.span(name) { span = rec.current; f }
      val (c1, ms1) = Codegen.reading()
      rec.drain()
      span.foreach(s => units += UnitRec(s, ops.drop(n0).toList, c1 - c0, ms1 - ms0))
      r
    }

  /** Start an op's storage reading; [[record]] ends it. */
  def startStorage(): Unit = { rec.drain(); rec.resetStorage() }

  /** Append one op that took `seconds`: `f` returned (docs processed,
    * output-check failure if any), or threw. Its storage reading runs from
    * the last [[startStorage]].
    */
  def record(kind: String, seconds: Double, result: Either[Throwable, (Long, Option[String])]): OpRec = {
    rec.drain()
    val st = rec.storage
    val r = result match {
      case Right((docs, None)) => OpRec(kind, seconds, docs, None, st)
      case Right((_, Some(err))) => OpRec(kind, seconds, 0L, Some(s"output check: $err"), st)
      case Left(e) =>
        OpRec(kind, seconds, 0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), st)
    }
    ops += r
    r.error.foreach(e => System.err.println(s"[perfbench] op $kind failed: $e"))
    r
  }

  /** Time one op (see [[record]]). Checkpoint blocks the op left behind
    * are released afterwards, untimed, as graft.Bench does between
    * queries.
    */
  def op(kind: String)(f: => (Long, Option[String])): OpRec = {
    val r = unit(s"op.$kind") {
      startStorage()
      val t0 = System.nanoTime()
      val res = try Right(f) catch { case e: Throwable => Left(e) }
      record(kind, (System.nanoTime() - t0) / 1e9, res)
    }
    ScalingBench.reapCheckpoints(spark)
    r
  }
}

/** A benchmark workload: set-up (counted in setup_s), one closed-loop step
  * (one or more ops, each issued after the previous returned), untimed
  * end-of-run output checks, and the per-layer measurements of a traced run.
  */
trait Workload {
  def setup(c: Ctx): Unit
  def step(c: Ctx): Unit
  /** false once the inputs for further steps are used up */
  def hasMore(c: Ctx): Boolean = true
  def finish(c: Ctx): Unit
  def layers(c: Ctx): Unit
}

/** Benchmark entry point, started by run.py in a fresh JVM. It generates
  * the inputs under DIR (untimed), sets the workload up, runs the closed
  * loop for S seconds, checks the outputs, and prints a report line and
  * the result line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --docs N --work DIR
  *
  * setup_s runs from JVM start (RuntimeMXBean start time) to the first
  * timed op, less the input generation.
  */
object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "segment_stream" -> (() => new SegmentStream),
    "near_dup" -> (() => new NearDup))

  /** The end-to-end metrics, with units, in report order. The op tail is
    * in the report line only: a run has 3–8 ops, so no percentile from p50
    * up has ten samples beyond it, and the max of a few ops measured an
    * IQR/median spread of 0.25 across seeds — too noisy to gate on.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "docs_per_s" -> "doc/s", "op_p50_s" -> "s",
    "resume_s" -> "s", "peak_stored_mb" -> "MB", "keep_f1" -> "ratio")

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = new Args(argv)
    val name = a.str("workload")
    val seconds = a.int("seconds")
    val traced = a.int("trace") == 1
    val workload = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))()
    val work = a.str("work")
    val spark = Session.build(s"perfbench-$name", s"$work/_spark")
    val code =
      try run(spark, name, workload, a, seconds, traced, jvmStartMs)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, name: String, w: Workload, a: Args, seconds: Int,
                  traced: Boolean, jvmStartMs: Long): Int = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // inputs first, untimed: generation is excluded from setup_s
    val g0 = System.currentTimeMillis()
    val data = s"${a.str("work")}/data"
    Gen.generate(spark, data, name, a.long("seed"), a.long("docs"))
    val genS = (System.currentTimeMillis() - g0) / 1000.0
    val c = new Ctx(spark, new Recorder(spark), data, a.str("work"), a.long("seed"), a.long("docs"))
    val s0 = System.currentTimeMillis()
    w.setup(c)
    val setupS = sessionS + (System.currentTimeMillis() - s0) / 1000.0
    // warm-up ops are checked like timed ones, but not counted as attempted
    val warmFailed = c.ops.filterNot(_.ok)
    c.check("warm-up ops passed their checks", warmFailed.isEmpty,
      s"${warmFailed.size} of ${c.ops.size} failed: ${warmFailed.flatMap(_.error).take(2).mkString("; ")}")
    c.ops.clear()
    c.resume.clear()

    val controlBefore = c.phase("control_before_s")(Host.control(spark))
    val cpu0 = Host.cpuTimes()
    val t0 = System.nanoTime()
    // Closed loop: the next step starts only after the previous returned.
    // A traced run alternates untraced and traced steps, at least three;
    // the tracing overhead compares the traced steps with the untraced
    // ones after the first (which runs colder than the rest).
    val untracedOps = mutable.ArrayBuffer.empty[OpRec]
    val tracedOps = mutable.ArrayBuffer.empty[OpRec]
    var steps = 0
    var aborted = false
    do {
      c.rec.traced = traced && steps % 2 == 1
      val n0 = c.ops.size
      val s0 = System.nanoTime()
      // a step that throws ends the loop with its op counted as failed
      try w.step(c) catch {
        case _: Aborted => aborted = true
        case e: Throwable =>
          c.record("step", (System.nanoTime() - s0) / 1e9, Left(e))
          aborted = true
      }
      if (c.rec.traced) tracedOps ++= c.ops.drop(n0)
      else if (steps > 0) untracedOps ++= c.ops.drop(n0)
      steps += 1
    } while ((System.nanoTime() < t0 + seconds * 1000000000L || (traced && steps < 3)) &&
      !aborted && w.hasMore(c))
    c.rec.traced = traced
    val wall = (System.nanoTime() - t0) / 1e9
    val window = Host.window(cpu0, Host.cpuTimes())
    val controlAfter = c.phase("control_after_s")(Host.control(spark))
    val noisy = Host.noisy(window, controlBefore, controlAfter)

    def guarded(what: String)(f: => Unit): Unit =
      try f catch { case e: Throwable => c.check(s"$what ran", ok = false, e.toString) }
    c.phase("checks_s")(guarded("output checks")(w.finish(c)))
    if (traced) c.phase("layers_s")(guarded("per-layer measurements")(w.layers(c)))

    val all = c.ops.toList
    val failed = all.count(!_.ok)
    val (e2e, tail) = endToEnd(c, all, setupS)
    val metrics =
      if (!traced) e2e
      else {
        perLayer(c, untracedOps.toList, tracedOps.toList)
        c.put("host.control_s", controlAfter, "s")
        c.put("host.steal_pct", window.stealPct, "%")
        c.put("host.iowait_pct", window.iowaitPct, "%")
        c.put("host.noisy", if (noisy) 1 else 0, "count")
        c.layer.values.toSeq
      }
    val checksOk = c.checks.forall(_._2)
    val correct = checksOk && failed == 0 && all.nonEmpty

    val report: JValue =
      ("workload" -> name) ~ ("seed" -> c.seed) ~ ("docs" -> c.docs) ~
        ("cores" -> Session.Cores) ~ ("traced" -> traced) ~ ("measured_s" -> wall) ~
        ("setup" -> ("jvm_and_session_s" -> sessionS) ~
          ("workload_setup_s" -> (setupS - sessionS)) ~ ("generation_s" -> genS)) ~
        ("phases" -> JObject(c.phases.toList.map { case (k, v) => k -> JDouble(v) })) ~
        ("ops" -> all.size) ~
        ("failed_frac" -> (if (all.isEmpty) 0.0 else failed.toDouble / all.size)) ~
        ("op_kinds" -> JObject(all.groupBy(_.kind).toList.sortBy(_._1)
          .map { case (k, v) => k -> JInt(v.size) })) ~
        ("op_tail_s" -> tail) ~
        ("op_seconds" -> all.map(o => f"${o.kind} ${o.seconds}%.3f")) ~
        ("keep_f1" -> c.keepF1.map(JDouble(_)).getOrElse(JString("n/a"))) ~
        ("checks" -> c.checks.toList.map { case (n, ok, d) =>
          ("name" -> n) ~ ("ok" -> ok) ~ ("detail" -> d) }) ~
        ("failures" -> all.flatMap(_.error).distinct.take(5)) ~
        ("host" -> ("steal_pct" -> window.stealPct) ~ ("iowait_pct" -> window.iowaitPct) ~
          ("busy_pct" -> window.busyPct) ~ ("control_before_s" -> controlBefore) ~
          ("control_after_s" -> controlAfter) ~ ("noisy_window" -> noisy))
    println(compact(render("report" -> report)))
    System.err.println(f"[perfbench] $name seed=${c.seed} ops=${all.size} failed=$failed " +
      f"noisy=$noisy correct=$correct")
    metrics.foreach(m => System.err.println(f"[perfbench]   ${m.name}%-34s ${m.value}%14.6f ${m.unit}"))
    c.checks.filterNot(_._2).foreach { case (n, _, d) =>
      System.err.println(s"[perfbench] CHECK FAILED $n: $d") }
    println(compact(render(("correct" -> correct) ~ ("attempted" -> all.size) ~
      ("failed" -> failed) ~ ("metrics" -> JObject(metrics.toList.map(m =>
        m.name -> (("value" -> m.value) ~ ("unit" -> m.unit))))))))
    if (correct) 0 else 1
  }

  /** A latency that counts failed ops as missing every bound. JSON has no
    * infinity, so a statistic that lands on a failed op prints as 1e9 s.
    */
  private def finite(x: Double): Double = if (x.isInfinite) 1e9 else x

  /** The end-to-end metrics, and the op tail for the report. */
  private def endToEnd(c: Ctx, ops: Seq[OpRec], setupS: Double): (Seq[Metric], JValue) = {
    val lat = ops.map(_.latency)
    val okOps = ops.filter(_.ok)
    // the median op's rate, robust to one slow op; a failed op labels nothing
    val docsPerS =
      if (ops.isEmpty) 0.0 else Stats.median(ops.map(o => if (o.ok) o.docs / o.seconds else 0.0))
    val p50 = if (lat.isEmpty) 1e9 else finite(Stats.median(lat))
    val tail: JValue = Stats.tail(lat) match {
      case Some((v, pct)) => ("value" -> finite(v)) ~ ("unit" -> "s") ~
        ("percentile" -> pct) ~ ("samples" -> lat.size)
      case None => ("value" -> (if (lat.isEmpty) 1e9 else finite(lat.max))) ~ ("unit" -> "s") ~
        ("percentile" -> 100) ~ ("samples" -> lat.size) ~
        ("note" -> "max: under 20 samples no percentile from p50 up has 10 beyond")
    }
    val resume = if (c.resume.isEmpty) 1e9 else finite(Stats.median(c.resume.toSeq))
    // the median op's peak: one peak over the whole window would depend on
    // how far the engine's asynchronous block removal lags behind
    val peakMb = if (okOps.isEmpty) 0.0 else Stats.median(okOps.map(_.stored.peakBytes / 1e6))
    val values = Map("setup_s" -> setupS, "docs_per_s" -> docsPerS, "op_p50_s" -> p50,
      "resume_s" -> resume, "peak_stored_mb" -> peakMb, "keep_f1" -> c.keepF1.getOrElse(0.0))
    (EndToEnd.map { case (n, u) => Metric(n, values(n), u) }, tail)
  }

  /** Per-layer metrics common to every workload, averaged per op of the
    * traced half. Workload-specific layers were added by `layers`.
    */
  private def perLayer(c: Ctx, untraced: Seq[OpRec], traced: Seq[OpRec]): Unit = {
    val units = c.units.filter(_.ops.forall(_.ok)).toList
    val n = math.max(units.map(_.ops.size).sum, 1).toDouble
    val accs = units.map(u => u -> c.rec.rollup(u.span.id))
    def per(f: Acc => Double): Double = accs.map { case (_, a) => f(a) }.sum / n
    c.put("driver.plan_s",
      units.map(u => c.rec.planMs(u.span.startMs, u.span.endMs) / 1000.0).sum / n, "s")
    c.put("driver.jobs", per(_.jobs.toDouble), "count")
    c.put("driver.stages", per(_.stages.toDouble), "count")
    c.put("driver.codegen_compiles", units.map(_.compiles.toDouble).sum / n, "count")
    c.put("driver.codegen_s", units.map(_.compileMs).sum / n / 1000.0, "s")
    c.put("driver.serial_s", accs.map { case (u, a) =>
      Stats.selfTime((u.span.startMs, u.span.endMs), a.jobIntervals.toSeq) / 1000.0 }.sum / n, "s")
    c.put("exec.task_cpu_s", per(_.taskCpuNs / 1e9), "s")
    c.put("exec.gc_s", per(_.gcMs / 1e3), "s")
    c.put("exec.slot_busy_frac", accs.map(_._2.taskRunMs / 1e3).sum /
      math.max(units.map(_.span.seconds).sum * Session.Cores, 1e-9), "ratio")
    c.put("exec.scan_mb", per(_.scanBytes / 1e6), "MB")
    c.put("exec.shuffle_write_mb", per(_.shuffleWriteBytes / 1e6), "MB")
    c.put("exec.shuffle_read_mb", per(_.shuffleReadBytes / 1e6), "MB")
    c.put("exec.spill_mb", per(_.spillBytes / 1e6), "MB")
    val docs = units.flatMap(_.ops).map(_.docs).sum
    if (c.layer.contains("io.writes"))
      c.put("io.written_mb_per_kdoc",
        if (docs == 0) 0.0 else accs.map(_._2.outputBytes).sum / 1e6 / (docs / 1000.0), "MB")
    val tops = units.flatMap(_.ops)
    c.put("cascade.materializations", tops.map(_.stored.rdds.toDouble).sum / n, "count")
    c.put("cascade.stored_mb", tops.map(_.stored.storedBytes / 1e6).sum / n, "MB")
    val u = untraced.filter(_.ok).map(_.seconds)
    val t = traced.filter(_.ok).map(_.seconds)
    c.put("trace.overhead_frac",
      if (u.isEmpty || t.isEmpty) 0.0 else Stats.median(t) / Stats.median(u) - 1.0, "ratio")
    // every per-layer name is printed on every workload; a layer the
    // workload does not run reads 0
    Layers.names.foreach(nm => if (!c.layer.contains(nm)) c.put(nm, 0.0, Layers.unitOf(nm)))
  }
}

package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted for one span: the Spark jobs submitted while it was the
  * innermost open span on the submitting thread, and their stages and
  * tasks.
  */
final class Acc {
  var jobs = 0L
  var stages = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var scanBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // wall ms

  def add(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; taskCpuNs += o.taskCpuNs
    taskRunMs += o.taskRunMs; gcMs += o.gcMs; scanBytes += o.scanBytes
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; jobIntervals ++= o.jobIntervals
  }
}

final case class Span(id: Long, name: String, parent: Long, startNs: Long, startMs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Block storage an op used: the peak of resident checkpoint and cache
  * bytes above the level it started at, the bytes it stored in total, and
  * the RDDs that stored them (its materializations).
  */
final case class Stored(peakBytes: Long, storedBytes: Long, rdds: Int)

/** One streaming trigger, from the query's progress event. */
final case class Trigger(batchId: Long, rows: Long, durationMs: Map[String, Long])

/** Everything the benchmark observes from outside the engine.
  *
  * Storage bytes (checkpoint and cached blocks) are tracked always: the
  * peak is an end-to-end metric. Everything else is recorded only while
  * `traced` is set.
  *
  * Jobs are attributed to spans by a local property the benchmark owns
  * ([[Prop]]), set on the driver thread for the duration of a span. Spark
  * copies a thread's local properties into every job it submits, and a
  * streaming query's execution thread inherits them when it starts. The job
  * description is not used: the engine resets it to null inside
  * Neighborhood.groupStats/joinReady and Cascade.run.
  */
final class Recorder(spark: SparkSession) extends SparkListener {
  import Recorder._

  @volatile var traced = false
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong()
  private val spans = mutable.LinkedHashMap.empty[Long, Span]
  private val accs = mutable.HashMap.empty[Long, Acc]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long)] // job -> (span, start ms)
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, planning ms)
  private val triggers = mutable.ArrayBuffer.empty[Trigger]

  // storage: bytes per RDD block currently stored, their sum and its peak
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var storedNow = 0L
  private var storedBase = 0L
  private var storedPeak = 0L
  private var storedCum = 0L
  private val rddsStored = mutable.HashSet.empty[Int]

  sc.addSparkListener(this)
  attach(spark)
  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (traced) Recorder.this.synchronized {
        val p = e.progress
        triggers += Trigger(p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
  })

  /** Record the planning phases of the queries `session` runs. */
  def attach(session: SparkSession): Unit = session.listenerManager.register(new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (traced) {
        val ph = qe.tracker.phases
        val keys = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
          QueryPlanningTracker.PLANNING)
        val present = keys.flatMap(ph.get)
        if (present.nonEmpty) Recorder.this.synchronized {
          plans += ((present.map(_.startTimeMs).min, present.map(_.durationMs).sum))
        }
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  /** Run `f` as a span named `name`, nested in the calling thread's open
    * span. A no-op wrapper when not traced.
    */
  def span[T](name: String)(f: => T): T =
    if (!traced) f
    else {
      val prev = sc.getLocalProperty(Prop)
      val parent = Option(prev).map(_.toLong).getOrElse(0L)
      val s = Span(nextId.incrementAndGet(), name, parent, System.nanoTime(), System.currentTimeMillis())
      synchronized { spans(s.id) = s }
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        sc.setLocalProperty(Prop, prev)
      }
    }

  /** The calling thread's innermost open span. */
  def current: Option[Span] =
    Option(sc.getLocalProperty(Prop)).flatMap(id => synchronized(spans.get(id.toLong)))

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = PerfbenchBridge.drainListeners(sc)

  private def acc(span: Long): Acc = accs.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong)
    span.filter(_ => traced).foreach { s =>
      jobSpan(e.jobId) = (s, e.time)
      acc(s).jobs += 1
      e.stageInfos.foreach(i => stageSpan(i.stageId) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0) => acc(s).jobIntervals += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(s => acc(s).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { s =>
      val a = acc(s)
      a.taskCpuNs += m.executorCpuTime
      a.taskRunMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.scanBytes += m.inputMetrics.bytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val old = blockBytes.getOrElse(key, 0L)
      if (bytes > 0) blockBytes(key) = bytes else blockBytes.remove(key)
      storedNow += bytes - old
      if (bytes > old) storedCum += bytes - old
      storedPeak = math.max(storedPeak, storedNow)
      if (bytes > 0) info.blockId.asRDDId.foreach(b => rddsStored += b.rddId)
    }
  }

  /** Storage counters since the last reset: (peak bytes above the level at
    * the reset, bytes stored in total, distinct RDDs that stored blocks).
    * Call after [[drain]].
    */
  def storage: Stored = synchronized {
    Stored(storedPeak - storedBase, storedCum, rddsStored.size)
  }
  def resetStorage(): Unit = synchronized {
    storedBase = storedNow; storedPeak = storedNow; storedCum = 0L; rddsStored.clear()
  }

  /** Counted work of span `id` and every span nested in it. */
  def rollup(id: Long): Acc = synchronized {
    val out = new Acc
    def within(s: Long): Boolean =
      s == id || spans.get(s).exists(sp => sp.parent != 0L && within(sp.parent))
    accs.foreach { case (s, a) => if (within(s)) out.add(a) }
    out
  }

  def spansNamed(prefix: String): Seq[Span] = synchronized {
    spans.values.filter(s => s.name.startsWith(prefix) && s.endNs >= 0).toSeq
  }

  /** Planning milliseconds of the queries whose planning started in [t0, t1]. */
  def planMs(t0: Long, t1: Long): Long = synchronized {
    plans.collect { case (t, ms) if t >= t0 && t <= t1 => ms }.sum
  }

  def takeTriggers(): Seq[Trigger] = synchronized {
    val t = triggers.toList
    triggers.clear()
    t
  }
}

object Recorder {
  /** The benchmark's own job-attribution property. */
  val Prop = "perfbench.span"
}

/** Janino compile counts and times, from Spark's static codegen histogram.
  * Its reservoir keeps every sample up to 1 028; beyond that the sum is
  * estimated from the reservoir mean.
  */
object Codegen {
  private def h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  /** (compiles so far, total compile ms so far) */
  def reading(): (Long, Double) = {
    val n = h.getCount
    val vals = h.getSnapshot.getValues
    val sum = if (n <= vals.length) vals.map(_.toDouble).sum else h.getSnapshot.getMean * n
    (n, sum)
  }
}

package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Host-noise fingerprint of a run: hypervisor steal and iowait from
  * /proc/stat over the measured window (as tools/host_window_monitor.py
  * samples them), and a control op with no engine code in it, timed before
  * and after the window. A window whose control slowed down, or that shows
  * steal or iowait, is flagged noisy in the report.
  */
object Host {
  /** user nice system idle iowait irq softirq steal */
  def cpuTimes(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val line = src.getLines().find(_.startsWith("cpu ")).getOrElse("cpu")
      (line.split("\\s+").drop(1).map(_.toLong) ++ Array.fill(8)(0L)).take(8)
    } finally src.close()
  }

  final case class Window(stealPct: Double, iowaitPct: Double, busyPct: Double)

  def window(a: Array[Long], b: Array[Long]): Window = {
    val d = a.zip(b).map { case (x, y) => y - x }
    val tot = math.max(d.sum, 1L).toDouble
    Window(100.0 * d(7) / tot, 100.0 * d(4) / tot, 100.0 * (tot - d(3) - d(4)) / tot)
  }

  /** Control op: a pure groupBy-aggregate over generated rows, the analog
    * of graft.Bench's q_agg_lineitem control query. Median of three runs,
    * seconds.
    */
  def control(spark: SparkSession): Double = {
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 2000000L, 1L, Session.Cores)
        .groupBy((col("id") % 1009).as("k"))
        .agg(sum("id"), count(lit(1)))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(times)
  }

  /** Noisy-window rule: steal or iowait above 3 % of CPU time (on a 4-vCPU
    * host, windows with 4–5 % steal measured ops 15–20 % slower), or the
    * control op 25 % slower after the window than before it (graft.Bench's
    * control-ratio threshold).
    */
  def noisy(w: Window, controlBefore: Double, controlAfter: Double): Boolean =
    w.stealPct > 3.0 || w.iowaitPct > 3.0 || controlAfter > 1.25 * controlBefore
}

package perfbench

import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** `--key value` argument pairs. */
final class Args(args: Array[String]) {
  private val kv: Map[String, String] = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad argument $k")
      k.stripPrefix("--") -> v
    }.toMap
  }
  def str(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def long(k: String): Long = str(k).toLong
  def int(k: String): Int = str(k).toInt
}

/** The single local session every benchmark JVM runs on. */
object Session {
  /** Task slots: the benchmark host's core count, fixed so that results
    * from different hosts state the same parallelism.
    */
  val Cores = 4

  def build(app: String, localDir: String): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder())
      .master(s"local[$Cores]")
      .appName(app)
      // the engine's documented 4-partitions-per-core rule (ScalingBench)
      .config("spark.sql.shuffle.partitions", (4 * Cores).toString)
      .config("spark.default.parallelism", (4 * Cores).toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // all scratch stays inside the run's own directory
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$localDir/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

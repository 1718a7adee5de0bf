package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.CascadeConfig
import graft.stages.{Cols, Neighborhood}

class AttributionSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("jobs launched inside groupStats count under the enclosing stage span") {
    val rec = new Recorder(spark)
    rec.traced = true
    val df = spark.range(400).select(
      xxhash64(col("id")).as(Cols.UrlHash),
      concat(lit("host"), (col("id") % 7).cast("string")).as(Cols.Domain),
      lit(null).cast("int").as(Cols.Dqc),
      lit(1).as(Cols.Doit),
      (col("id") % 50).as("x"))
    val sc = spark.sparkContext
    var stage: Option[Span] = None
    var descAfter = "unset"
    rec.span("op.cascade") {
      rec.span("stage.10") {
        stage = rec.current
        // the fused-stats path runs a driver action under its own job
        // description and then resets the description to null
        Neighborhood.groupStats(df, col("x"), CascadeConfig(maxRefsPerGroup = Some(1000)))
        descAfter = sc.getLocalProperty("spark.job.description")
      }
    }
    rec.drain()
    assert(descAfter === null, "groupStats no longer nulls the job description")
    val inStage = rec.rollup(stage.get.id)
    assert(inStage.jobs >= 1, "no job attributed to the stage span")
    assert(inStage.stages >= 1)
    val op = rec.spansNamed("op.cascade").head
    assert(rec.rollup(op.id).jobs === inStage.jobs, "nested span's jobs roll up to the op")
    assert(stage.get.parent === op.id)
  }

  test("untraced: no spans, no attribution") {
    val rec = new Recorder(spark)
    rec.span("op.x")(spark.range(10).count())
    rec.drain()
    assert(rec.spansNamed("op.").isEmpty)
  }
}

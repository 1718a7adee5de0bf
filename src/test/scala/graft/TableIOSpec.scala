package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.{PagesGen, TableIO}
import graft.cascade.Cascade
import graft.stages.Cols

class TableIOSpec extends SparkSpec {

  private def tmpRoot(): String =
    Files.createTempDirectory("tableio").toString

  test("write/read round trip with snapshot isolation") {
    import spark.implicits._
    val root = tmpRoot()
    val df1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val s1 = TableIO.write(df1, root, "t")
    assert(s1 === 0L)
    assert(TableIO.read(spark, root, "t").count() === 2)

    val df2 = Seq((3, "c")).toDF("id", "v")
    val s2 = TableIO.write(df2, root, "t")
    assert(s2 === 1L)
    // current snapshot is the new one; the old remains readable by id
    assert(TableIO.read(spark, root, "t").count() === 1)
    assert(TableIO.read(spark, root, "t", Some(0L)).count() === 2)
    assert(TableIO.currentSnapshot(root, "t") === Some(1L))
  }

  test("manifest row counts come from parquet footers and match the data") {
    import spark.implicits._
    val root = tmpRoot()
    // multi-file commit: 7 rows over 4 partitions (uneven, one near-empty
    // split is common at scale) — the footer sum must equal the row count
    val df = (1 to 7).map(i => (i, s"v$i")).toDF("id", "v").repartition(4)
    TableIO.write(df, root, "t")
    // empty commit (a stage that dropped everything) must record 0, not fail
    TableIO.write(df.filter(col("id") > 100), root, "t")
    val m = TableIO.readManifest(root, "t").get
    assert(m.snapshots.map(s => s.id -> s.rows) === Seq(0L -> 7L, 1L -> 0L))
    assert(TableIO.read(spark, root, "t", Some(0L)).count() === 7L)
    assert(TableIO.read(spark, root, "t").count() === 0L)
  }

  test("snapshot writes are refused under spark.speculation=true") {
    val conf = new org.apache.spark.SparkConf(loadDefaults = false)
    TableIO.requireNoSpeculation(conf)
    TableIO.requireNoSpeculation(conf.clone.set("spark.speculation", "false"))
    intercept[IllegalStateException](
      TableIO.requireNoSpeculation(conf.clone.set("spark.speculation", "true")))
    // the running test context has speculation off, so writes go through
    TableIO.requireNoSpeculation(spark.sparkContext.getConf)
  }

  test("uncommitted data is invisible and vacuumable") {
    import spark.implicits._
    val root = tmpRoot()
    TableIO.write(Seq((1, "a")).toDF("id", "v"), root, "t")
    // simulate a killed write: data dir exists, no manifest update
    Seq((9, "z")).toDF("id", "v").write
      .parquet(s"$root/t/data/s99")
    assert(TableIO.currentSnapshot(root, "t") === Some(0L))
    assert(TableIO.read(spark, root, "t").count() === 1)
    TableIO.vacuum(root, "t")
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/t/data/s99")))
    assert(TableIO.read(spark, root, "t").count() === 1)
  }

  test("vacuum closes every directory listing it opens") {
    import spark.implicits._
    val root = tmpRoot()
    TableIO.write(Seq((1, "a")).toDF("id", "v"), root, "t")
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val orphan = java.nio.file.Paths.get(root, "t", "data", "s99", "part")
    val before = os.getOpenFileDescriptorCount
    for (_ <- 1 to 200) {
      // an uncommitted nested dir, so each vacuum also deletes recursively
      Files.createDirectories(orphan)
      Files.write(orphan.resolve("f.parquet"), Array[Byte](1))
      TableIO.vacuum(root, "t")
    }
    val grown = os.getOpenFileDescriptorCount - before
    assert(!Files.exists(orphan.getParent))
    assert(grown <= 10, s"$grown file descriptors leaked over 200 vacuum calls")
    assert(TableIO.read(spark, root, "t").count() === 1)
  }

  test("concurrent commit: the second writer of one snapshot id is rejected") {
    import spark.implicits._
    val root = tmpRoot()
    TableIO.write(Seq((1, "a")).toDF("id", "v"), root, "t") // snapshot 0
    // a stale writer: it read parent snapshot 0, so it targets id 1 — but a
    // concurrent writer commits id 1 first (simulated by the pre-existing
    // CAS marker). The stale commit must FAIL, not absorb the winner's id.
    Files.createDirectories(java.nio.file.Paths.get(s"$root/t/commits"))
    Files.createFile(java.nio.file.Paths.get(s"$root/t/commits/s1"))
    val e = intercept[TableIO.CommitConflictException] {
      TableIO.write(Seq((2, "b")).toDF("id", "v"), root, "t")
    }
    assert(e.getMessage.contains("snapshot 1"))
    // reader view unaffected by the failed commit; vacuum reclaims both the
    // loser's data dir and the orphaned marker (no committed snapshot 1)
    assert(TableIO.currentSnapshot(root, "t") === Some(0L))
    TableIO.vacuum(root, "t")
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/t/data/s1")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/t/commits/s1")))
    // with the conflict cleared, the next write commits id 1 normally
    assert(TableIO.write(Seq((3, "c")).toDF("id", "v"), root, "t") === 1L)
  }

  test("reads serve the committed per-snapshot schema; footer inference is the fallback") {
    import spark.implicits._
    val root = tmpRoot()
    val df = Seq((1, "a", 1.5)).toDF("id", "v", "w")
    TableIO.write(df, root, "t")
    // schema file committed; read returns the identical schema without
    // needing footer inference
    val p = java.nio.file.Paths.get(s"$root/t/schema_s0.json")
    assert(Files.exists(p))
    // file sources widen to nullable on read (footer inference does too),
    // so the contract is nullable-widened schema equality
    val nullableWidened = org.apache.spark.sql.types.StructType(
      df.schema.fields.map(_.copy(nullable = true)))
    assert(TableIO.read(spark, root, "t").schema === nullableWidened)
    // pre-schema tables (file absent) still read via footer inference
    Files.delete(p)
    assert(TableIO.read(spark, root, "t").as[(Int, String, Double)].collect()
      === Array((1, "a", 1.5)))
  }

  test("expireSnapshots keeps the newest k, reclaims the rest, current survives") {
    import spark.implicits._
    val root = tmpRoot()
    (1 to 4).foreach(i => TableIO.write(Seq((i, s"v$i")).toDF("id", "v"), root, "t"))
    TableIO.expireSnapshots(root, "t", keepLast = 2)
    val m = TableIO.readManifest(root, "t").get
    assert(m.current === 3L)
    assert(m.snapshots.map(_.id) === Seq(2L, 3L))
    // expired data dirs and markers are gone; surviving snapshots readable
    for (id <- Seq(0L, 1L)) {
      assert(!Files.exists(java.nio.file.Paths.get(s"$root/t/data/s$id")))
      assert(!Files.exists(java.nio.file.Paths.get(s"$root/t/commits/s$id")))
    }
    assert(TableIO.read(spark, root, "t", Some(2L)).count() === 1)
    assert(TableIO.read(spark, root, "t").as[(Int, String)].collect() === Array((4, "v4")))
    // the next write continues the id sequence past the expired range
    assert(TableIO.write(Seq((5, "v5")).toDF("id", "v"), root, "t") === 4L)
    // keepLast is clamped: expiring to 0 still keeps current
    TableIO.expireSnapshots(root, "t", keepLast = 0)
    assert(TableIO.readManifest(root, "t").get.snapshots.map(_.id) === Seq(4L))
  }

  test("per-column output rounding (write_output.r:48-57 parity)") {
    import spark.implicits._
    val df = Seq((1, 1.23456, 9.87654)).toDF("id", "a", "b")
    val r = TableIO.roundColumns(df, Map("a" -> 2, "b" -> 0, "missing" -> 3))
      .collect()(0)
    assert(r.getDouble(1) === 1.23)
    assert(r.getDouble(2) === 10.0)
  }

  test("resumable cascade: restart reuses committed stages and matches a cold run") {
    val cfg = Fixture.cfg
    val pages = PagesGen.generate(spark, 600L)
    val cold = Cascade.runResumable(pages, cfg, tmpRoot())
      .select("url", Cols.Dqc).collect().map(r => (r.getString(0), r.getInt(1))).sorted

    // run once, then "crash" and rerun against the same root — the second
    // run must resume from the last committed stage and agree exactly
    val root = tmpRoot()
    Cascade.runResumable(pages, cfg, root)
    val manifestCountBefore = Files.list(java.nio.file.Paths.get(root)).count()
    val resumed = Cascade.runResumable(pages, cfg, root)
      .select("url", Cols.Dqc).collect().map(r => (r.getString(0), r.getInt(1))).sorted
    assert(resumed.sameElements(cold))
    // no new stage tables were created on resume (only labeled/metrics advance)
    assert(Files.list(java.nio.file.Paths.get(root)).count() === manifestCountBefore)

    // metrics table exists and covers every surviving row (the flagship
    // config dedups at ingest, so the expected count is post-dedup)
    val expected = graft.stages.Ingest.dropDuplicatePages(
      graft.stages.Ingest.normalize(pages, cfg)).count()
    assert(expected >= 595L && expected <= 600L,
      s"ingest dedup should only drop true duplicate texts, kept $expected of 600")
    val m = TableIO.read(spark, root, "metrics")
    assert(m.agg(sum("n_docs")).collect()(0).getLong(0) === expected)
  }

  test("resumable cascade: mid-run kill resumes exactly; stage snapshots are payload-pruned") {
    val cfg = Fixture.cfg
    val pages = PagesGen.generate(spark, 600L)
    val root = tmpRoot()
    // simulated kill: prefix + 2 light-stage commits, then stop before the
    // final label/metrics commit
    Cascade.runResumable(pages, cfg, root, stopAfterStages = 2)
    assert(TableIO.currentSnapshot(root, "pages_labeled").isEmpty,
      "killed run must not have committed the final table")
    assert(TableIO.currentSnapshot(root, Cascade.PrefixTable).isDefined)

    // payload pruning: every post-prefix stage snapshot carries the light
    // working set only — no text/scrubbed payload bytes
    val stageTables = Files.list(java.nio.file.Paths.get(root)).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]()
    while (stageTables.hasNext) names += stageTables.next().getFileName.toString
    val lightTables = names.filter(_.startsWith("stage_"))
    assert(lightTables.nonEmpty)
    for (t <- lightTables) {
      val cols = TableIO.read(spark, root, t).columns.toSet
      assert(!cols.contains(Cols.Text) && !cols.contains(Cols.Html) &&
        !cols.exists(_.startsWith("scrubbed")),
        s"stage table $t must not carry payload columns, has: $cols")
    }

    // the resumed run reuses the committed stages and matches a cold run
    val resumed = Cascade.runResumable(pages, cfg, root)
      .select("url", Cols.Dqc).collect().map(r => (r.getString(0), r.getInt(1))).sorted
    val cold = Cascade.runResumable(pages, cfg, tmpRoot())
      .select("url", Cols.Dqc).collect().map(r => (r.getString(0), r.getInt(1))).sorted
    assert(resumed.sameElements(cold))
  }
}

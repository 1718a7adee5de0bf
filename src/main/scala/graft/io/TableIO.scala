package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Thin snapshot-table seam emulating Iceberg commit semantics on plain
  * parquet — no Iceberg runtime exists in this sandbox (verified; SURVEY.md
  * §7), so the engine programs against this trait-shaped API and an Iceberg
  * implementation is a drop-in where the jars exist.
  *
  * Layout: `<root>/<name>/data/s<id>/part-*.parquet` + `<root>/<name>/
  * manifest.json`. A snapshot becomes visible only when the manifest is
  * atomically renamed into place (the Iceberg commit), so readers never see
  * partial writes and a killed job resumes from the last committed
  * snapshot — the north_rule "resumable from checkpoint" semantics. The
  * reference's analog is the per-run output file boundary
  * (/root/reference/functions/IO/write_output.r).
  */
object TableIO {

  final case class Snapshot(id: Long, rows: Long)
  final case class Manifest(current: Long, snapshots: Seq[Snapshot])

  private def tableDir(root: String, name: String): Path = Paths.get(root, name)
  private def manifestPath(root: String, name: String): Path =
    tableDir(root, name).resolve("manifest.json")

  /** Minimal JSON for our fixed manifest shape (no external deps). */
  private def render(m: Manifest): String = {
    val snaps = m.snapshots
      .map(s => s"""{"id":${s.id},"rows":${s.rows}}""")
      .mkString("[", ",", "]")
    s"""{"current":${m.current},"snapshots":$snaps}"""
  }

  private val SnapRe = """\{"id":(\d+),"rows":(\d+)\}""".r
  private val CurRe  = """"current":(\d+)""".r

  def readManifest(root: String, name: String): Option[Manifest] = {
    val p = manifestPath(root, name)
    if (!Files.exists(p)) None
    else {
      val s = new String(Files.readAllBytes(p), "UTF-8")
      val current = CurRe.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(-1L)
      val snaps = SnapRe.findAllMatchIn(s)
        .map(m => Snapshot(m.group(1).toLong, m.group(2).toLong)).toSeq
      Some(Manifest(current, snaps))
    }
  }

  def currentSnapshot(root: String, name: String): Option[Long] =
    readManifest(root, name).map(_.current).filter(_ >= 0)

  /** Thrown when a commit loses the optimistic-concurrency race: another
    * writer committed the same successor snapshot id first (Iceberg's
    * CommitFailedException analog). The loser's data files are uncommitted
    * and reclaimed by [[vacuum]]; the caller may re-read and retry.
    */
  final class CommitConflictException(msg: String) extends IllegalStateException(msg)

  /** Append a new snapshot: claim the successor id (compare-and-swap on the
    * expected parent snapshot), write data + schema, then the atomic
    * manifest rename. Returns the committed snapshot id.
    *
    * The CAS is an exclusive-create of `commits/<id>` (CREATE_NEW is atomic
    * on POSIX): two concurrent writers that both read parent snapshot id−1
    * both target id, exactly one wins the marker, and the loser throws
    * [[CommitConflictException]] instead of silently absorbing the winner's
    * snapshot into its own manifest — Iceberg's optimistic-concurrency
    * commit semantics, which the previous last-rename-wins commit did not
    * honor. The manifest rename stays atomic, so readers still never see a
    * partial commit.
    */
  def write(df: DataFrame, root: String, name: String): Long = {
    requireNoSpeculation(df.sparkSession.sparkContext.getConf)
    val prev = readManifest(root, name).getOrElse(Manifest(-1L, Nil))
    val id = prev.current + 1
    // claim the id FIRST: with dir-per-snapshot data layout the loser of a
    // commit race must find out before writing, or its overwrite of
    // data/s<id> would corrupt the winner's already-committed files (Iceberg
    // tolerates write-then-race because its data files are uniquely named;
    // this layout cannot). A kill between marker and manifest leaves an
    // orphaned marker + partial data that [[vacuum]] reclaims.
    Files.createDirectories(manifestPath(root, name).getParent)
    val commitDir = tableDir(root, name).resolve("commits")
    Files.createDirectories(commitDir)
    try Files.createFile(commitDir.resolve(s"s$id")) // atomic CAS on the id
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"table $name: snapshot $id already committed by a concurrent writer " +
            s"(expected parent ${prev.current}); re-read the manifest and retry")
    }
    val dataDir = tableDir(root, name).resolve(s"data/s$id")
    // any failure between the claimed marker and the manifest rename (task
    // failure, disk full — not just a kill) must release the claim: an
    // orphaned marker would make every later write throw a misleading
    // CommitConflictException until an explicit vacuum. Clean up the marker
    // and the partial data dir, then rethrow; vacuum remains the recovery
    // path only for hard kills.
    try {
      // Hadoop committer v2 (direct task commit) + no _SUCCESS marker: the
      // v1 two-phase rename exists to make the DIRECTORY's contents appear
      // atomically, but in this layout visibility is governed solely by the
      // manifest rename below — readers never list data/s<id> before the
      // snapshot is committed, and a failed write's partial files are
      // removed by the catch below (or by vacuum after a hard kill). The
      // redundant rename pass and marker file are per-commit serial
      // filesystem latency, paid ~7 times per resumable-cascade run.
      df.write.mode(SaveMode.Overwrite)
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(dataDir.toString)
      val rows = footerRowCount(dataDir)
      // per-snapshot schema, written before the commit rename makes it
      // visible — Iceberg serves the schema from table metadata, so a read
      // never needs the footer-sniffing Spark job `spark.read.parquet`
      // schedules for schema inference (measured: ~20 such 1-task jobs per
      // resumable-cascade run, each pure core-count-invariant latency)
      Files.write(tableDir(root, name).resolve(s"schema_s$id.json"),
        df.schema.json.getBytes("UTF-8"))
      val next = Manifest(id, prev.snapshots :+ Snapshot(id, rows))
      val tmp = manifestPath(root, name).resolveSibling(s"manifest.json.tmp$id")
      Files.write(tmp, render(next).getBytes("UTF-8"))
      Files.move(tmp, manifestPath(root, name),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: Throwable =>
        try {
          deleteRecursively(dataDir)
          Files.deleteIfExists(tableDir(root, name).resolve(s"schema_s$id.json"))
          Files.deleteIfExists(commitDir.resolve(s"s$id"))
        } catch { case _: Throwable => } // best effort; vacuum covers the rest
        throw e
    }
    id
  }

  /** Refuse snapshot writes under speculative execution. [[write]] uses
    * direct task commit, so two attempts of one task can both leave a part
    * file in the snapshot directory, and [[footerRowCount]] would count the
    * duplicate rows. A running context's core conf cannot change, so the
    * check takes the conf itself and [[write]] calls it before claiming the
    * commit marker.
    */
  def requireNoSpeculation(conf: org.apache.spark.SparkConf): Unit =
    if (conf.getBoolean("spark.speculation", false))
      throw new IllegalStateException(
        "TableIO.write refuses to run with spark.speculation=true: direct task " +
          "commit can leave duplicate part files from speculative attempts")

  /** Committed-snapshot row count from the parquet FOOTERS, read on the
    * driver — no Spark job. This is how Iceberg itself records row counts
    * (data-file metadata captured at commit); the previous form
    * (`read.parquet(dir).count()`) scheduled a full second Spark job per
    * commit just to recount what the footers already state, a fixed
    * per-commit latency that the snapshot-mode scaling legs measured as
    * the dominant term of the serial residue (BENCH/BASELINE.md §1).
    */
  private def footerRowCount(dataDir: Path): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    // parallel over files: a snapshot has one file per write task (32+ at
    // bench parallelism), and the footer opens are independent metadata
    // reads — serializing them puts ~file-count × open-latency on the
    // per-commit serial residue the scaling legs measure.
    // The stream is closed (this runs once per commit — the hot path —
    // and an unclosed Files.list leaks a directory file descriptor).
    val s = Files.list(dataDir)
    try {
      s.parallel()
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .mapToLong { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(p.toUri), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
    } finally s.close()
  }

  /** Read the current (or a specific) committed snapshot. The schema comes
    * from the snapshot's committed metadata when present (the Iceberg way),
    * so no schema-inference job is scheduled; pre-schema tables fall back
    * to parquet footer inference.
    */
  def read(spark: SparkSession, root: String, name: String,
           snapshot: Option[Long] = None): DataFrame = {
    val m = readManifest(root, name)
      .getOrElse(throw new IllegalStateException(s"no committed snapshot for $name"))
    val id = snapshot.getOrElse(m.current)
    require(m.snapshots.exists(_.id == id), s"snapshot $id not committed for $name")
    val dataDir = tableDir(root, name).resolve(s"data/s$id").toString
    val schemaFile = tableDir(root, name).resolve(s"schema_s$id.json")
    if (Files.exists(schemaFile)) {
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(new String(Files.readAllBytes(schemaFile), "UTF-8"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      spark.read.schema(schema).parquet(dataDir)
    } else spark.read.parquet(dataDir)
  }

  /** Per-column output rounding — the reference rounds each output column
    * to a configured number of digits just before the write
    * (/root/reference/functions/IO/write_output.r:48-57). Applied as a
    * plain projection so it fuses into the write stage.
    */
  def roundColumns(df: DataFrame, digits: Map[String, Int]): DataFrame = {
    import org.apache.spark.sql.functions.{col, round}
    digits.foldLeft(df) { case (d, (c, n)) =>
      if (d.columns.contains(c)) d.withColumn(c, round(col(c), n)) else d
    }
  }

  /** Drop uncommitted data dirs and orphaned commit markers (recovery after
    * a kill between the CAS marker and the manifest rename — the marker
    * without a committed snapshot would otherwise block that id forever;
    * clean failures release their own claim in [[write]]).
    *
    * MAINTENANCE OPERATION — like [[expireSnapshots]], run it from the
    * table's single maintainer, never concurrently with an in-flight
    * writer: it reclaims every marker absent from the manifest, including
    * one a live writer just claimed, which would let a second writer
    * claim the same id and overwrite its data dir.
    */
  def vacuum(root: String, name: String): Unit = {
    val m = readManifest(root, name).getOrElse(Manifest(-1L, Nil))
    val committed = m.snapshots.map(s => s"s${s.id}").toSet
    val dd = tableDir(root, name).resolve("data")
    if (Files.exists(dd)) {
      entries(dd)
        .filterNot(p => committed.contains(p.getFileName.toString))
        .foreach(deleteRecursively)
    }
    val cd = tableDir(root, name).resolve("commits")
    if (Files.exists(cd)) {
      entries(cd)
        .filterNot(p => committed.contains(p.getFileName.toString))
        .foreach(p => Files.deleteIfExists(p))
    }
    val td = tableDir(root, name)
    if (Files.exists(td)) {
      entries(td)
        .filter(_.getFileName.toString.startsWith("schema_s"))
        .filterNot(p => committed.contains(
          p.getFileName.toString.stripPrefix("schema_").stripSuffix(".json")))
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  /** Expire all but the newest `keepLast` snapshots — Iceberg's
    * `expireSnapshots` table maintenance. A long-lived stage table under
    * rerun-heavy operation (every rerun of a committed stage appends a
    * fresh snapshot by design — commit idempotence) otherwise accumulates
    * data dirs without bound; at 10^12-doc scale each one is a full light
    * working set. Keeps the current snapshot always (keepLast is clamped to
    * ≥1), rewrites the manifest atomically, then reclaims the dropped data
    * dirs and their commit markers. Like Iceberg's, this is a maintenance
    * operation: run it from the table's single maintainer, not concurrently
    * with a writer racing the same manifest (writers CAS on snapshot ids,
    * which never move backwards, so a later writer is unaffected).
    */
  def expireSnapshots(root: String, name: String, keepLast: Int): Unit =
    readManifest(root, name).foreach { m =>
      val keep = m.snapshots.sortBy(_.id).takeRight(math.max(1, keepLast))
      if (keep.size < m.snapshots.size) {
        require(keep.exists(_.id == m.current),
          s"table $name: current snapshot ${m.current} must survive expiry")
        val next = Manifest(m.current, keep)
        val tmp = manifestPath(root, name).resolveSibling(s"manifest.json.exp${m.current}")
        Files.write(tmp, render(next).getBytes("UTF-8"))
        Files.move(tmp, manifestPath(root, name),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        val dropped = m.snapshots.map(_.id).toSet -- keep.map(_.id).toSet
        dropped.foreach { id =>
          deleteRecursively(tableDir(root, name).resolve(s"data/s$id"))
          Files.deleteIfExists(tableDir(root, name).resolve(s"commits/s$id"))
          Files.deleteIfExists(tableDir(root, name).resolve(s"schema_s$id.json"))
        }
      }
    }

  /** The entries of `dir`. The listing stream is closed before they are
    * returned: an unclosed Files.list leaks a directory file descriptor.
    */
  private def entries(dir: Path): List[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) entries(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

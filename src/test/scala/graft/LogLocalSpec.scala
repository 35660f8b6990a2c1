package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.layout.DataLayout

/** Hardening pins for the driver-local metadata-log reader (LogLocal):
  *
  *  1. CAP CROSSING — the 64 MB size guard decides only HOW the log's
  *     rows are obtained: below it they decode on the driver, past it one
  *     Spark `groupBy` replays the manifest (and the DV log) and collects
  *     the O(files) result. Every answer is then derived from the same
  *     per-file fold, so each must be IDENTICAL on both sides of the cap.
  *     The `graft.test.localLogMaxMB` system property forces the cap to 0
  *     inside this JVM.
  *  2. COMMIT/VACUUM INVALIDATION — the decode LRU is keyed on the log
  *     dir + every part file's (name, len, mtime); any commit adds a file
  *     and any vacuum rewrites the set. A cached decode must never serve
  *     a pre-commit alive set or a pre-vacuum version.
  *  3. STAGED COMMITS — a driver-staged commit (`_stage_*.parquet`) is
  *     not part of the log until its rename; vacuum's snapshot lists the
  *     log with the readers' visible-file rule and never reads one.
  */
class LogLocalSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_loglocal_$tag").toString + "/t"

  private def seed(dir: String, n: Int = 400): Unit =
    DataLayout.writeZOrdered(
      spark.range(n).select(col("id").as("k"), (col("id") * 3 % 97).as("x")),
      Seq(col("k"), col("x")), 16, Seq("k", "x"), dir, numFiles = 4)

  private def withCap[A](mb: String)(f: => A): A = {
    sys.props("graft.test.localLogMaxMB") = mb
    try f finally sys.props.remove("graft.test.localLogMaxMB")
  }

  test("a log past the size cap answers identically through the distributed fallback") {
    val dir = freshDir("cap")
    seed(dir)
    DataLayout.appendZOrdered(
      spark.range(400, 500).select(col("id").as("k"), (col("id") * 3 % 97).as("x")),
      Seq(col("k"), col("x")), 16, Seq("k", "x"), dir, numFiles = 2)
    DataLayout.deleteVectors(spark, dir, Seq(("k", 10L, 30L)))
    DataLayout.appendZOrderedTxn(
      spark.range(500, 540).select(col("id").as("k"), (col("id") * 3 % 97).as("x")),
      Seq(col("k"), col("x")), 16, Seq("k", "x"), dir, numFiles = 1,
      txnApp = "cap", txnBatch = 7L)
    // a vacuum that keeps every version: its compacted base, markers and
    // grace-lingering commit files are replayed alongside the new ones
    DataLayout.vacuum(spark, dir, retainVersions = 10)
    val clone = freshDir("cap_clone")
    DataLayout.cloneLayout(spark, dir, clone, version = 1L)

    def snapshot() = (
      DataLayout.currentVersion(spark, dir),
      DataLayout.aliveManifest(spark, dir).select("file")
        .collect().map(_.getString(0)).toSeq.sorted,
      DataLayout.schemaFor(spark, dir).fieldNames.toSeq,
      DataLayout.readLayout(spark, dir).as[(Long, Long)]
        .collect().toSeq.sorted,
      DataLayout.changeFeed(spark, dir, 0L, 2L, Seq("k"), Seq("x")).count(),
      DataLayout.vacuumHorizon(spark, dir),
      DataLayout.diffVersions(spark, dir, 0L, 3L, Seq("k"), Seq("x")).df.count(),
      { val d = DataLayout.diffLayouts(spark, dir, clone, Seq("k"), Seq("x"))
        (d.df.count(), d.filesReadA, d.filesReadB) },
      DataLayout.dvEffectiveAt(spark, dir),
      graft.layout.Maintenance.assess(spark, dir, rowsPerFile = 100L),
      DataLayout.lastCommittedTxn(spark, dir, "cap"))

    val local = snapshot()
    val fallback = withCap("0")(snapshot())
    assert(local == fallback,
      s"driver-local vs distributed disagree:\n$local\n$fallback")
  }

  test("a commit and a vacuum each invalidate the decode cache") {
    val dir = freshDir("inval")
    seed(dir)
    // warm the cache with every probe shape
    val v0 = DataLayout.currentVersion(spark, dir)
    val alive0 = DataLayout.aliveManifest(spark, dir).count()
    assert(v0 == 0L)

    // COMMIT: the appended version and its files must be visible at once
    DataLayout.appendZOrdered(
      spark.range(1000, 1100).select(col("id").as("k"), lit(1L).as("x")),
      Seq(col("k"), col("x")), 16, Seq("k", "x"), dir, numFiles = 2)
    val v1 = DataLayout.currentVersion(spark, dir)
    val alive1 = DataLayout.aliveManifest(spark, dir).count()
    assert(v1 == v0 + 1, s"cached decode served a pre-commit version: $v1")
    assert(alive1 > alive0, s"cached decode served a pre-commit alive set")

    // a rewrite commit (delete) must surface its tombstones immediately
    DataLayout.deleteWhere(spark, dir, Seq(col("k"), col("x")), 16,
      Seq("k", "x"), Seq(("k", 1000L, 1100L)))
    val v2 = DataLayout.currentVersion(spark, dir)
    assert(v2 == v1 + 1)
    assert(DataLayout.readLayout(spark, dir).where(col("k") >= 1000L).isEmpty)

    // VACUUM rewrites the log file set (compaction + horizon marker) — a
    // stale decode would still read horizon 0 and promise time travel to
    // versions whose files are gone
    assert(DataLayout.vacuumHorizon(spark, dir) == 0L)
    val rowsBefore = DataLayout.readLayout(spark, dir).count()
    DataLayout.vacuum(spark, dir, retainVersions = 0)
    assert(DataLayout.vacuumHorizon(spark, dir) == v2,
      "cached decode served the pre-vacuum horizon")
    assert(DataLayout.currentVersion(spark, dir) == v2)
    assert(DataLayout.readLayout(spark, dir).count() == rowsBefore)
    intercept[IllegalArgumentException](
      DataLayout.readLayout(spark, dir, 0L).count())
  }

  test("vacuum leaves an in-flight driver-staged commit out of its snapshot") {
    val dir = freshDir("stage")
    seed(dir)
    val v0 = DataLayout.currentVersion(spark, dir)
    def aliveFiles() = DataLayout.aliveManifest(spark, dir).select("file")
      .collect().map(_.getString(0)).toSet
    val alive0 = aliveFiles()
    // a commit between its stage write and its rename: manifest rows for
    // a file no version committed, in the log dir as the driver-staged
    // `_stage_<12 hex>.parquet` the commit protocol writes first
    val rowsDir = freshDir("stage_rows")
    DataLayout.manifestLog(spark, dir).limit(1)
      .withColumn("file", lit(s"$dir/uncommitted.parquet"))
      .withColumn("v_added", lit(v0 + 1))
      .coalesce(1).write.parquet(rowsDir)
    val part = new java.io.File(rowsDir).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val stage = new java.io.File(s"$dir/${DataLayout.ManifestDir}/_stage_0123456789ab.parquet")
    Files.copy(part.toPath, stage.toPath)

    DataLayout.vacuum(spark, dir)
    assert(stage.exists(), "vacuum swept a young stage file")
    assert(DataLayout.currentVersion(spark, dir) == v0,
      "the staged rows' version became visible")
    assert(aliveFiles() == alive0, "the staged rows' file became alive")
  }
}

package graft.layout

import org.apache.spark.sql.{Column, SparkSession}

/** NIGHTLY MAINTENANCE as a policy, not a runbook: measure the layout's
  * debt from the manifest alone, decide which of the existing primitives
  * pay it down, run them in dependency order, and report what happened.
  * This is the operator a 100 TB deployment schedules after a day of
  * streaming-sink appends, CDC merges, and soft deletes — the composition
  * Delta spells as `OPTIMIZE` + `REORG … APPLY (PURGE)` + `VACUUM`, here
  * with the decision thresholds explicit and the evidence returned.
  *
  * Every assessment is O(files) driver work over manifest stats rows and
  * the DV log — no data file is opened to DECIDE; only the files a chosen
  * step rewrites are read. The steps run in the only order that never
  * wastes a rewrite:
  *
  *  1. [[DataLayout.purgeDeletes]] — DV'd files first, so the compaction
  *     passes below never rewrite soft-deleted rows;
  *  2. [[DataLayout.compactZOrdered]] — merge z-OVERLAPPING clusters
  *     (append debt: deltas interleave the base's key space);
  *  3. [[DataLayout.compactSmallFiles]] — bin-pack adjacent DISJOINT
  *     small files (monotonic-ingest debt overlap compaction can't see);
  *  4. [[DataLayout.vacuum]] — last, so the tombstones the steps above
  *     just wrote are reclaimed in the same run once outside the
  *     retention window.
  *
  * Each executed step is one ordinary OCC-committed version: time travel,
  * the change feed (maintenance versions stream as EMPTY batches — no
  * logical churn), and concurrent readers see maintenance as any other
  * writer. Single-mutator discipline applies as everywhere in the layout.
  */
object Maintenance {

  /** The measurable debt classes, all from metadata.
    *  - `smallFiles`: alive files under half the target size — the
    *    streaming sink's and trickle-append's signature;
    *  - `overlapFiles`: alive files inside multi-file z-interval overlap
    *    clusters — exactly what [[DataLayout.compactZOrdered]] rewrites;
    *  - `dvFiles`/`dvRows`: alive files carrying outstanding deletion
    *    vector positions (every masked read pays the anti join until
    *    purged);
    *  - `reclaimableFiles`: tombstoned files still on disk, held only for
    *    time travel — [[DataLayout.vacuum]]'s yield. */
  final case class Debt(files: Int, rows: Long, smallFiles: Int,
      overlapFiles: Int, overlapClusters: Int, dvFiles: Int, dvRows: Long,
      reclaimableFiles: Int, fullOverlapFiles: Int = 0)

  /** Trigger thresholds, each the answer to "is the rewrite worth the
    * write amplification?" — defaults tuned for a layout that takes
    * streaming appends all day and maintains once a night:
    *  - `minSmallFiles`: bin-packing needs at least this many small files
    *    (2 merges; fewer is noise);
    *  - `minOverlapFiles`: overlap compaction runs once this many files
    *    sit in multi-file clusters (each overlap cluster taxes every
    *    skip-scan that touches its z-range);
    *  - `minDvRows`: purge once this many positions are outstanding
    *    (every read of a DV'd file pays the mask anti join);
    *  - `minReclaimableFiles`: vacuum once this many dead files linger;
    *  - `retainVersions`: the time-travel window vacuum preserves. */
  final case class Policy(rowsPerFile: Long, minSmallFiles: Int = 4,
      minOverlapFiles: Int = 2, minDvRows: Long = 1L,
      minReclaimableFiles: Int = 8, retainVersions: Int = 2) {
    require(rowsPerFile >= 1, s"rowsPerFile must be >= 1: $rowsPerFile")
  }

  /** What ran and what it did; `None` = the policy decided against the
    * step. `debtBefore`/`debtAfter` make the run auditable — a nightly
    * job logs the report and a flat debt curve proves the policy holds. */
  final case class Report(debtBefore: Debt, debtAfter: Debt,
      purged: Option[DataLayout.PurgeReport],
      overlapCompacted: Option[DataLayout.CompactReport],
      binPacked: Option[DataLayout.CompactReport],
      vacuumed: Option[DataLayout.VacuumReport],
      bloomRefreshed: Seq[DataLayout.BloomRefresh], reasons: Seq[String])

  /** Measure debt from the manifest + DV log — O(files), zero data I/O.
    * `retainVersions` scopes `reclaimableFiles` to what a vacuum at that
    * retention would actually delete (default 0 = the most inclusive
    * view: everything tombstoned and off the alive set). */
  def assess(spark: SparkSession, dir: String, rowsPerFile: Long,
      retainVersions: Int = 0): Debt = {
    val m = DataLayout.manifestFold(spark, dir)
    val dv = DataLayout.dvFold(spark, dir)
    val alive = m.aliveAt(dir, DataLayout.Latest)
    val (zmin, zmax, nRows) = (m.longCol("zmin"), m.longCol("zmax"), m.longCol("n_rows"))
    val rows = alive.flatMap(nRows).sum
    val small = alive.count(e => nRows(e).exists(_ < rowsPerFile / 2))
    // the same interval sweep compactZOrdered clusters by, over the same
    // sub-rowsPerFile population the policy will hand it — overlap among
    // already-FULL files is not actionable debt (rewriting it would make
    // every pass ∝ table size; see compactZOrdered's onlyFilesUnder)
    def sweep(ivs: Seq[(Long, Long)]): (Int, Int) = {
      var clusters = 0; var clusterFiles = 0
      var curSize = 0; var curMax = Long.MinValue
      def flush(): Unit = {
        if (curSize > 1) { clusters += 1; clusterFiles += curSize }
        curSize = 0; curMax = Long.MinValue
      }
      for ((lo, hi) <- ivs) {
        if (curSize > 0 && lo <= curMax) { curSize += 1; curMax = math.max(curMax, hi) }
        else { flush(); curSize = 1; curMax = hi }
      }
      flush()
      (clusters, clusterFiles)
    }
    // (z interval, rows) of the files with a recorded z interval
    val withZ = alive.flatMap(e =>
      for (lo <- zmin(e); hi <- zmax(e)) yield ((lo, hi), nRows(e)))
    val (clusters, clusterFiles) = sweep(withZ
      .collect { case (iv, n) if n.forall(_ < rowsPerFile) => iv }.sorted)
    // TOLERATED residual: overlap among already-full files — never
    // rewritten by the policy (write amp would be ∝ table size), but it
    // costs pruning precision on their z-range; a rising curve here is
    // the operator's cue to schedule a full recluster
    val (_, fullOverlap) = sweep(withZ
      .collect { case (iv, Some(n)) if n >= rowsPerFile => iv }.sorted)
    val aliveCanon = alive.map(e => DataLayout.canon(e.file)).toSet
    Debt(alive.length, rows, small, clusterFiles, clusters,
      dv.entries.map(_.file).distinct.count(aliveCanon), dv.positions(aliveCanon),
      reclaimableCount(spark, dir, m, dv, retainVersions), fullOverlap)
  }

  /** Tombstoned-but-on-disk count that VACUUM CAN ACTUALLY RECLAIM under
    * `retainVersions` — files whose last tombstone sits at or below the
    * horizon `max(recorded horizon, hwm − retain)`, exactly the retention
    * test vacuum applies. Counting every tombstoned file regardless of
    * horizon (the earlier shape) made the trigger fire every pass under
    * steady churn with retain >= 1 while each vacuum reclaimed nothing —
    * a whole-log rewrite per pass for zero yield. Kept as a targeted probe
    * so the mid-pass re-checks in [[run]] don't pay a full [[assess]]. */
  private def reclaimableCount(spark: SparkSession, dir: String,
      m: DataLayout.ManifestFold, dv: DataLayout.DvFold,
      retainVersions: Int): Int = {
    val hwm = math.max(m.maxVersion, dv.maxVersion)
    val horizon = math.max(m.horizon, math.max(0L, hwm - retainVersions))
    val aliveCanon = m.aliveAt(dir, DataLayout.Latest)
      .map(e => DataLayout.canon(e.file)).toSet
    // ON-DISK check as well as the log test: vacuum's grace-deferred log
    // reclaim leaves tombstone rows visible for already-deleted files —
    // counting those would re-fire the trigger forever after one vacuum
    val onDisk = DataLayout.listDataFiles(spark, dir)
      .map(DataLayout.canon).toSet
    m.entries.filter(e => !e.sentinel && e.removed.exists(_ <= horizon))
      .map(e => DataLayout.canon(e.file)).count(f => !aliveCanon(f) && onDisk(f))
  }

  /** Assess, decide, run, re-assess. `dims`/`bits`/`statsCols` must match
    * the layout's clustering (as for every rewrite primitive). */
  def run(spark: SparkSession, dir: String, dims: Seq[Column], bits: Int,
      statsCols: Seq[String], policy: Policy): Report = {
    val before = assess(spark, dir, policy.rowsPerFile, policy.retainVersions)
    val reasons = scala.collection.mutable.ArrayBuffer.empty[String]
    val purged =
      if (before.dvRows >= policy.minDvRows) {
        reasons += s"purge: ${before.dvRows} DV positions on ${before.dvFiles} files"
        Some(DataLayout.purgeDeletes(spark, dir, dims, bits, statsCols))
      } else None
    val overlap =
      if (before.overlapFiles >= policy.minOverlapFiles) {
        reasons += s"compact: ${before.overlapFiles} files in ${before.overlapClusters} z-overlap clusters"
        Some(DataLayout.compactZOrdered(spark, dir, dims, bits, statsCols,
          policy.rowsPerFile, onlyFilesUnder = policy.rowsPerFile))
      } else None
    // re-measure small-file debt AFTER the rewrites above (purge/compact
    // may have consolidated or produced small files this pass should see)
    // — a targeted count, not a full assess
    val mid = DataLayout.manifestFold(spark, dir)
    val midRows = mid.longCol("n_rows")
    val midSmall = mid.aliveAt(dir, DataLayout.Latest)
      .count(e => midRows(e).exists(_ < policy.rowsPerFile / 2))
    val packed =
      if (midSmall >= policy.minSmallFiles) {
        reasons += s"bin-pack: $midSmall small files (< ${policy.rowsPerFile / 2} rows)"
        Some(DataLayout.compactSmallFiles(spark, dir, dims, bits, statsCols,
          policy.rowsPerFile))
      } else None
    val reclaimableNow = reclaimableCount(spark, dir,
      DataLayout.manifestFold(spark, dir), DataLayout.dvFold(spark, dir),
      policy.retainVersions)
    val vacuumed =
      if (reclaimableNow >= policy.minReclaimableFiles) {
        reasons += s"vacuum: $reclaimableNow reclaimable files, retaining ${policy.retainVersions} versions"
        Some(DataLayout.vacuum(spark, dir, policy.retainVersions))
      } else None
    // Bloom hygiene rides every pass that rewrote files: rewrites orphan
    // the per-file bitmaps (stale rows linger, fresh files are uncovered
    // — pruning silently degrades to extra I/O until re-indexed)
    val blooms =
      if (purged.isDefined || overlap.isDefined || packed.isDefined) {
        val r = DataLayout.refreshBloomIndexes(spark, dir)
        if (r.nonEmpty) reasons +=
          s"bloom refresh: ${r.map(b => s"${b.column}(+${b.filesIndexed}/-${b.staleDropped})").mkString(", ")}"
        r
      } else Nil
    Report(before,
      assess(spark, dir, policy.rowsPerFile, policy.retainVersions),
      purged, overlap, packed, vacuumed, blooms, reasons.toSeq)
  }
}

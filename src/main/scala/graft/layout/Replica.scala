package graft.layout

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC REPLICATION between layouts: a physically independent copy of a
  * source layout (other bucket, other region, other retention policy)
  * kept current by applying the source's derived change feed — never by
  * re-copying the table.
  *
  * [[init]] seeds the replica with one clustered write of the source's
  * current rows and pins the source version it reflects. Each [[sync]]
  * then:
  *
  *   1. reads the source's change feed over `(pinned, current]` — cost
  *      ∝ churn (each step reads only the files/DV coordinates that step
  *      touched, see [[DataLayout.changeFeed]]);
  *   2. collapses multi-step key histories to LAST-EVENT-WINS with one
  *      window over the feed (a key updated five times applies once; a
  *      key deleted then re-inserted applies as its final row);
  *   3. applies the net delta with one envelope-targeted
  *      [[DataLayout.mergeInto]] — upserts for keys whose final event is
  *      an arrival, tombstone deletes for keys whose final event is a
  *      removal. Only replica files whose key envelope intersects the
  *      delta rewrite.
  *
  * A day of churn on a 100 TB table ships as the day's delta, lands in
  * minutes, and the replica keeps its own independent version history,
  * time travel, and clustering dimensions (they may differ from the
  * source's — a replica clustered for its own query patterns is the
  * point). The reference engine diffs tables to FIND drift
  * (data_diff/diff_tables.py); this closes the loop and repairs it at
  * churn cost, with the same machinery.
  */
object Replica {

  /** Hidden metadata dir under a replica: source dir, pinned source
    * version, and the replication key. */
  val MetaDir = "_graft_replica_meta"

  private def metaPath(dir: String) = s"$dir/$MetaDir"

  final case class ReplicaDef(srcDir: String, srcVersion: Long,
      keyCols: Seq[String])

  /** One tiny metadata row per replica, written and read DRIVER-SIDE
    * ([[LogLocal.writeMetaRow]]): a sync used to pay a full Spark write
    * cycle for the version-pin bump and a Spark read job per meta probe. */
  private def writeMeta(spark: SparkSession, dstDir: String,
      d: ReplicaDef): Unit =
    LogLocal.writeMetaRow(spark, metaPath(dstDir), Seq(
      "src_dir" -> d.srcDir, "src_version" -> d.srcVersion,
      "key_cols" -> d.keyCols))

  /** The replica's pinned source position. */
  def meta(spark: SparkSession, dstDir: String): ReplicaDef = {
    val m = LogLocal.readMetaRow(spark, metaPath(dstDir))
    ReplicaDef(m("src_dir").asInstanceOf[String],
      m("src_version").asInstanceOf[Long], LogLocal.metaList(m("key_cols")))
  }

  /** Seed `dstDir` with the source's current rows, clustered by the
    * REPLICA's own `dims` (they need not match the source's), and pin the
    * source version. The one full copy the replica will ever pay. */
  def init(spark: SparkSession, srcDir: String, dstDir: String,
      dims: Seq[Column], bits: Int, statsCols: Seq[String],
      keyCols: Seq[String], numFiles: Int): ReplicaDef = {
    require(keyCols.nonEmpty, "init needs the replication key columns")
    val v = DataLayout.currentVersion(spark, srcDir)
    require(v >= 0, s"no source layout at $srcDir")
    val rows = DataLayout.readLayout(spark, srcDir)
    keyCols.foreach(k => require(rows.columns.contains(k),
      s"key column '$k' not in source schema ${rows.columns.mkString(",")}"))
    require(statsCols.contains(keyCols.head),
      s"statsCols must include the envelope key '${keyCols.head}' — sync's " +
        "mergeInto targets replica files by that column's min/max")
    DataLayout.writeZOrdered(rows, dims, bits, statsCols, dstDir, numFiles)
    val d = ReplicaDef(srcDir, v, keyCols)
    writeMeta(spark, dstDir, d)
    d
  }

  final case class SyncReport(fromVersion: Long, toVersion: Long,
      feedRows: Long, upserts: Long, deletes: Long, filesRewritten: Int)

  /** VERIFY the replica against its source with the file-granular
    * cross-layout diff ([[DataLayout.diffLayouts]]): a clean, current
    * replica verifies from O(files) metadata on both sides — zero data
    * reads even though the two layouts are clustered differently, because
    * the content fingerprint is additive (outstanding soft deletes on
    * either side cost only their own files' re-fingerprint). Drift — a
    * missed sync, an out-of-band write, silent corruption — surfaces as
    * the exact '-'/'+' rows. This is the nightly operator a 100 TB
    * replication deployment actually runs; the reference engine's whole
    * purpose (diff two tables to find drift) reduced to a manifest scan
    * when clean. */
  def verify(spark: SparkSession, dstDir: String,
      compareCols: Seq[String] = Nil): DataLayout.LayoutDiff = {
    val d = meta(spark, dstDir)
    DataLayout.diffLayouts(spark, d.srcDir, dstDir, d.keyCols, compareCols)
  }

  /** Apply the source's churn since the last sync. No-op when current. */
  def sync(spark: SparkSession, dstDir: String, dims: Seq[Column],
      bits: Int, statsCols: Seq[String], numFiles: Int): SyncReport = {
    val d = meta(spark, dstDir)
    val cur = DataLayout.currentVersion(spark, d.srcDir)
    require(cur >= d.srcVersion, s"source at ${d.srcDir} regressed: replica " +
      s"pinned ${d.srcVersion}, source at $cur — was the source replaced?")
    if (cur == d.srcVersion)
      return SyncReport(cur, cur, 0L, 0L, 0L, 0)

    // the recorded schema, not readLayout: column names are all that is
    // needed, and a readLayout frame construction costs a manifest
    // collect plus a DV probe
    val dataCols = DataLayout.schemaFor(spark, dstDir).fieldNames.toSeq
    val compareCols = dataCols.filterNot(d.keyCols.contains)
    // LAST EVENT WINS per key: highest version, and within one step the
    // arrival ('+' sorts before '-') beats the departure it replaced.
    // ONE materialization of the feed: the exact feed-row count rides the
    // collapse action as an observed metric — the r19 shape checkpointed
    // the feed, counted it, THEN checkpointed the collapsed frame (two
    // full materializations of the feed plus a count job). The metric
    // node sits below the window exchange, which is safe because obs is
    // only consulted when `last` came back nonempty (an empty input could
    // let AQE's empty-relation propagation prune the metric node — the
    // DmlCountSpec lesson); last is empty iff the feed is empty, since
    // the window keeps >= 1 row per key.
    val w = Window.partitionBy(d.keyCols.map(col): _*)
      .orderBy(col("version").desc, col("sign").asc)
    val obs = new org.apache.spark.sql.Observation()
    val last = DataLayout.changeFeed(spark, d.srcDir, d.srcVersion, cur,
        d.keyCols, compareCols)
      .observe(obs, count(lit(1)).as("feed_rows"))
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1).localCheckpoint(true)
    if (last.isEmpty) { // pure file-motion steps (compaction, recluster)
      writeMeta(spark, dstDir, d.copy(srcVersion = cur))
      return SyncReport(d.srcVersion, cur, 0L, 0L, 0L, 0)
    }
    val feedRows = obs.get("feed_rows").asInstanceOf[Long]
    val ups = last.where(col("sign") === "+")
      .select(dataCols.map(col): _*)
    val dels = last.where(col("sign") === "-")
      .select(d.keyCols.map(col): _*)
    val rep = DataLayout.mergeInto(spark, dstDir, dims, bits, statsCols,
      ups, d.keyCols, numFiles,
      deleteKeys = if (dels.isEmpty) None else Some(dels))
    writeMeta(spark, dstDir, d.copy(srcVersion = cur))
    SyncReport(d.srcVersion, cur, feedRows,
      upserts = rep.rowsUpdated + rep.rowsInserted, deletes = rep.rowsDeleted,
      filesRewritten = rep.filesRewritten)
  }
}

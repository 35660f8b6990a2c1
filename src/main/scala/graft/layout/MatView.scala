package graft.layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MATERIALIZED AGGREGATE VIEWS over a [[DataLayout]], maintained
  * INCREMENTALLY from the layout's derived change feed — classic
  * incremental view maintenance (IVM), priced at churn.
  *
  * A view is `SELECT groupCols, count(*), count(m), sum(m), min(m), max(m)
  * GROUP BY groupCols` for each measure `m`, materialized as a small
  * parquet table (O(groups) rows) plus a one-row metadata record pinning
  * the layout version it reflects. [[refresh]] rolls it forward to the
  * layout's current version WITHOUT rescanning the table:
  *
  *  - [[DataLayout.changeFeed]] yields the exact signed row deltas of the
  *    version range — each step reads only the files (or DV coordinates)
  *    that step touched, so feed cost ∝ churn, never table size;
  *  - count/sum are SELF-MAINTAINABLE (Gupta & Mumick's classification):
  *    one groupBy over the feed produces per-group deltas, merged into the
  *    view with one outer join over O(groups) rows;
  *  - min/max are self-maintainable only under inserts: a '+' row folds in
  *    via `least`/`greatest`, but a '-' row REMOVING the group's current
  *    extremum leaves the new extremum unknown. Exactly those DIRTY groups
  *    are re-aggregated from the base layout (one scan, semi-joined down
  *    to the dirty groups — AQE broadcasts the small side); clean groups
  *    never touch the base.
  *
  * At 100 TB this is the difference between a nightly full GROUP BY and a
  * merge of the day's churn: a view over 10^9 rows with 10^4 groups
  * refreshes by reading the feed's delta files only, unless a delete
  * clipped some group's extremum — and then only those groups pay a
  * (pruned) base pass. The reference engine has no persistence story at
  * all (data_diff/ is stateless); this is the Spark-native answer to the
  * "pre-aggregated metrics table that must track a mutating fact table"
  * deployment its users script by hand.
  *
  * Doubles accumulate float error under incremental +/-; use integer,
  * long, or decimal measures when exact equality with a full recompute
  * matters (the gates use whole cents).
  */
object MatView {

  /** Hidden metadata dir under a view: one parquet row — the source layout
    * dir, the version the view data reflects, and the view definition. */
  val MetaDir = "_graft_view_meta"
  /** Subdir holding the view's materialized rows. */
  val DataDir = "data"

  private def metaPath(dir: String) = s"$dir/$MetaDir"
  private def dataPath(dir: String) = s"$dir/$DataDir"

  final case class ViewDef(layoutDir: String, version: Long,
      groupCols: Seq[String], measures: Seq[String], keyCols: Seq[String])

  /** One tiny metadata row per view, written and read DRIVER-SIDE
    * ([[LogLocal.writeMetaRow]]) — a refresh used to pay a full Spark write
    * cycle for the version bump and a read job per meta probe. */
  private def writeMeta(spark: SparkSession, viewDir: String, d: ViewDef): Unit =
    LogLocal.writeMetaRow(spark, metaPath(viewDir), Seq(
      "layout_dir" -> d.layoutDir, "version" -> d.version,
      "group_cols" -> d.groupCols, "measures" -> d.measures,
      "key_cols" -> d.keyCols))

  /** The view's definition + the layout version its rows reflect. */
  def meta(spark: SparkSession, viewDir: String): ViewDef = {
    val m = LogLocal.readMetaRow(spark, metaPath(viewDir))
    ViewDef(m("layout_dir").asInstanceOf[String], m("version").asInstanceOf[Long],
      LogLocal.metaList(m("group_cols")), LogLocal.metaList(m("measures")),
      LogLocal.metaList(m("key_cols")))
  }

  /** The aggregate expressions of the view definition — shared verbatim by
    * the initial materialization and the dirty-group re-aggregation, so
    * the two can never drift. */
  private def aggExprs(measures: Seq[String]): Seq[Column] =
    count(lit(1)).as("n_rows") +: measures.flatMap(m => Seq(
      count(col(m)).as(s"n_$m"), sum(col(m)).as(s"sum_$m"),
      min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m")))

  /** Materialize the view at the layout's CURRENT version: one full
    * aggregation pass (the last one the view should ever need — from here
    * on [[refresh]] pays churn). */
  def materialize(spark: SparkSession, layoutDir: String, viewDir: String,
      groupCols: Seq[String], measures: Seq[String],
      keyCols: Seq[String]): ViewDef = {
    require(groupCols.nonEmpty, "materialize needs at least one group column")
    require(measures.nonEmpty, "materialize needs at least one measure")
    require(keyCols.nonEmpty, "materialize needs the layout's row-key columns")
    val v = DataLayout.currentVersion(spark, layoutDir)
    require(v >= 0, s"no layout at $layoutDir")
    val base = DataLayout.readLayout(spark, layoutDir)
    (groupCols ++ measures ++ keyCols).foreach(c =>
      require(base.columns.contains(c),
        s"column '$c' not in layout schema ${base.columns.mkString(",")}"))
    val exprs = aggExprs(measures)
    base.groupBy(groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
      .write.mode("overwrite").parquet(dataPath(viewDir))
    val d = ViewDef(layoutDir, v, groupCols, measures, keyCols)
    writeMeta(spark, viewDir, d)
    d
  }

  /** The view's rows (group columns, `n_rows`, and `n_/sum_/min_/max_` per
    * measure) as of the version [[meta]] reports. */
  def read(spark: SparkSession, viewDir: String): DataFrame =
    spark.read.parquet(dataPath(viewDir))

  final case class RefreshReport(fromVersion: Long, toVersion: Long,
      feedRows: Long, groupsChanged: Long, groupsRecomputed: Long)

  /** Roll the view forward to the layout's current version from the change
    * feed. No-op (and no write) when already current. */
  def refresh(spark: SparkSession, viewDir: String): RefreshReport = {
    val d = meta(spark, viewDir)
    val cur = DataLayout.currentVersion(spark, d.layoutDir)
    require(cur >= d.version, s"layout at ${d.layoutDir} regressed: view at " +
      s"${d.version}, layout at $cur — was the layout dir replaced?")
    if (cur == d.version) return RefreshReport(cur, cur, 0L, 0L, 0L)

    // exact signed row deltas of (view version, current] — cost ∝ churn.
    // compare cols are the view's inputs only: a row changing OTHER
    // columns contributes nothing and is never emitted.
    val feedCols = (d.groupCols ++ d.measures).distinct
    // the feed-row count rides the checkpoint action as an observed
    // metric (was a separate count job); obs is consulted only when the
    // checkpointed frame is nonempty, so an optimized-away metrics node
    // over an empty feed can never block the get (the DmlCountSpec
    // lesson — and isEmpty on the checkpointed blocks is cheap)
    val obsF = new org.apache.spark.sql.Observation()
    val feed = DataLayout.changeFeed(spark, d.layoutDir, d.version, cur,
        d.keyCols, feedCols)
      .observe(obsF, count(lit(1)).as("feed_rows"))
      .localCheckpoint(true)
    if (feed.isEmpty) { // e.g. pure compaction steps: nothing moved
      writeMeta(spark, viewDir, d.copy(version = cur))
      return RefreshReport(d.version, cur, 0L, 0L, 0L)
    }
    val feedRows = obsF.get("feed_rows").asInstanceOf[Long]

    val sgn = when(col("sign") === "+", 1L).otherwise(-1L)
    val deltaAggs: Seq[Column] = sum(sgn).as("d_rows") +: d.measures.flatMap { m =>
      Seq(
        sum(when(col(m).isNotNull, sgn).otherwise(0L)).as(s"d_n_$m"),
        sum(when(col(m).isNotNull, col(m) * sgn)).as(s"d_sum_$m"),
        min(when(col("sign") === "+", col(m))).as(s"add_min_$m"),
        max(when(col("sign") === "+", col(m))).as(s"add_max_$m"),
        min(when(col("sign") === "-", col(m))).as(s"rem_min_$m"),
        max(when(col("sign") === "-", col(m))).as(s"rem_max_$m"))
    }
    val delta = feed.groupBy(d.groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)

    val view = read(spark, viewDir)
    // outer-join merge over O(groups) rows; group columns COALESCEd from
    // whichever side has them (new groups exist only on the delta side)
    val joined = view.join(delta, d.groupCols, "full_outer")
    def z(c: String): Column = coalesce(col(c), lit(0L))
    val nRows = (z("n_rows") + z("d_rows")).as("n_rows")

    // a measure's min/max is DIRTY when a removed value ties-or-beats the
    // stored extremum (the survivor extremum is unknowable from the feed
    // alone), or when the feed touches a group the view has no row for
    // (removals against an unseen group mean the view and feed disagree —
    // recompute rather than guess)
    val dirtyPerMeasure: Seq[Column] = d.measures.map { m =>
      (col(s"rem_min_$m").isNotNull &&
        (col(s"min_$m").isNull || col(s"rem_min_$m") <= col(s"min_$m"))) ||
      (col(s"rem_max_$m").isNotNull &&
        (col(s"max_$m").isNull || col(s"rem_max_$m") >= col(s"max_$m")))
    }
    val dirty = dirtyPerMeasure.reduce(_ || _).as("_dirty")

    val measureCols: Seq[Column] = d.measures.flatMap { m =>
      Seq(
        (z(s"n_$m") + z(s"d_n_$m")).as(s"n_$m"),
        (coalesce(col(s"sum_$m"), lit(0) * col(s"d_sum_$m")) +
          coalesce(col(s"d_sum_$m"), lit(0) * col(s"sum_$m"))).as(s"sum_$m"),
        least(col(s"min_$m"), col(s"add_min_$m")).as(s"min_$m"),
        greatest(col(s"max_$m"), col(s"add_max_$m")).as(s"max_$m"))
    }
    // nDirty and groupsChanged ride the merge checkpoint as observed
    // metrics (was: a count over the dirty survivors plus a re-aggregation
    // of the feed for delta.count). `_from_delta` marks rows the feed
    // touched BEFORE the n_rows > 0 filter, so groups emptied by deletes
    // still count as changed; the dirty count applies the same filter the
    // survivor frame does. The observe input is the view⋈delta join —
    // nonempty whenever the feed is (guarded above) — so the metric node
    // always executes.
    val obsM = new org.apache.spark.sql.Observation()
    val merged = joined
      .select((d.groupCols.map(col) :+ nRows) ++ measureCols :+ dirty :+
        col("d_rows").isNotNull.as("_from_delta"): _*)
      .observe(obsM,
        count(when(col("_from_delta"), 1)).as("groups_changed"),
        count(when(col("_dirty") && col("n_rows") > 0, 1)).as("n_dirty"))
      .where(col("n_rows") > 0) // emptied groups leave the view
      .drop("_from_delta")
      .localCheckpoint(true)   // pin: next write overwrites our input path

    val nDirty = obsM.get("n_dirty").asInstanceOf[Long]
    val groupsChanged = obsM.get("groups_changed").asInstanceOf[Long]
    val result =
      if (nDirty == 0L) merged.drop("_dirty")
      else {
        // re-aggregate ONLY the dirty groups from the base at the target
        // version: semi-join the (tiny) dirty-group list down — AQE
        // broadcasts it — then patch those groups' min/max (and n/sum,
        // which the recompute also yields exactly) over the merged rows
        val dirtyKeys = merged.where(col("_dirty")).select(d.groupCols.map(col): _*)
        val exprs = aggExprs(d.measures)
        val recomputed = DataLayout.readLayout(spark, d.layoutDir, cur)
          .join(dirtyKeys, d.groupCols, "left_semi")
          .groupBy(d.groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
        // a dirty group that recomputed to EMPTY (every row gone) simply
        // yields no recompute row — it leaves the view, as the n_rows > 0
        // filter above arranged for clean groups
        merged.where(!col("_dirty")).drop("_dirty")
          .unionByName(recomputed)
          .localCheckpoint(true)
      }
    result.write.mode("overwrite").parquet(dataPath(viewDir))
    writeMeta(spark, viewDir, d.copy(version = cur))
    RefreshReport(d.version, cur, feedRows,
      groupsChanged = groupsChanged, groupsRecomputed = nDirty)
  }
}

package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

import graft.diff.TableSegment

/** The table on the far side of a pushdown diff: reachable only through
  * `engine.query(sql)`, described by the mutual (Spark-side) logical schema
  * so both sides normalize identically — the analogue of the reference's
  * `_validate_and_adjust_columns` negotiating mutual precision
  * (reference: data_diff/hashdiff_tables.py:119-168). */
final case class RemoteTable(
    engine: RemoteEngine,
    table: String,
    keyCols: Seq[String],
    compareCols: Seq[String],
    schema: StructType,
    fracPrecision: Int = 2,
    tsPrecision: Int = 6,
    /** Extra SQL predicate ANDed into every remote query — the remote
      * analogue of TableSegment's update-column scope: both sides MUST
      * restrict to the same rows or out-of-scope remote rows read as
      * spurious adds (reference: table_segment.py min_update/max_update
      * land in every remote WHERE). */
    extraWhereSql: Option[String] = None,
    /** How the remote engine orders the text key columns. Defaults to
      * ordinal (byte order) — most engines' binary default; a locale
      * collation here makes string key-range bounds unsafe and the diff
      * refuses to run (reference: abcs/database_types.py:18-100). */
    keyCollation: Collation = Collation.SparkBinary) {
  def relevantCols: Seq[String] = keyCols ++ compareCols
}

object RemoteTable {
  /** Build a RemoteTable by querying the engine's own schema catalog — the
    * real-user path, where the far side is a warehouse Spark cannot read
    * (reference: databases/base.py:1031-1066 + 1113-1160; see
    * RemoteSchema.introspect for the full contract). */
  def introspect(engine: RemoteEngine, table: String,
      keyCols: Seq[String], compareCols: Seq[String],
      extraWhereSql: Option[String] = None,
      keyCollation: Collation = Collation.SparkBinary): RemoteTable =
    RemoteSchema.introspect(engine, table, keyCols, compareCols,
      extraWhereSql, keyCollation)
}

/** Per-run pushdown statistics — the InfoTree analogue
  * (reference: data_diff/info_tree.py:9-62). */
final case class PushdownStats(
    levels: Int,
    segmentsProbed: Int,
    segmentsPruned: Int,
    leafSegments: Int,
    remoteQueries: Int,
    rowsFetched: Long,
    /** Wall-clock per bisection level (checksum batches, both sides). */
    levelMillis: Seq[Long] = Nil,
    /** Columns dropped mid-flight via PushdownControl.ignoreColumn. */
    ignoredColumns: Seq[String] = Nil,
    /** Level at which bisection was abandoned for the dense-diff bulk
      * fetch + joindiff (None = the loop bisected to completion). */
    denseCutoverAtLevel: Option[Int] = None)

/** One finished bisection level, reported to PushdownControl.onLevel. */
final case class PushdownLevel(level: Int, segments: Int, pruned: Int, millis: Long)

/** Mid-flight control + guardrails for the one cross-engine bisection loop
  * ([[Bisection]]), whichever pairing runs it — `PushdownDiffer`
  * (Spark frame ↔ remote) or `RemoteRemoteDiffer` (remote ↔ remote).
  *
  *  - `ignoreColumn` drops a column from the compare between levels — the
  *    reference's `ignore_column` re-plan (diff_tables.py:196-199), used
  *    when a hot column (e.g. a touched-everywhere updated_at) would force
  *    every segment to the leaves. The level-at-a-time loop re-plans each
  *    level, so the drop takes effect at the NEXT level's checksums and in
  *    the leaf compare.
  *  - `onLevel` is called after every level; the default warns when a
  *    level's wall-clock exceeds `checksumWarnSeconds` — the reference's
  *    checksum-duration guardrail (table_segment.py:20,249-254 logs when a
  *    segment checksum blows past its expected duration).
  */
class PushdownControl(val checksumWarnSeconds: Int = PushdownControl.DefaultChecksumWarnSeconds,
    /** Progressive mode: each bisection level's leaf segments are compared
      * AS SOON AS the level completes and the rows handed to `onLeafDiff`,
      * instead of one compare after the whole loop — first diff rows
      * surface while deeper levels are still bisecting, the reference's
      * early-streaming UX (its priority threadpool drains deepest segments
      * first, thread_utils.py:13-39; level-at-a-time, per-level emission is
      * the same property: results stream in refinement order). Rows already
      * emitted reflect the columns active when their leaf was compared — a
      * later `ignoreColumn` cannot unship them, exactly like the
      * reference's yielded iterator. */
    val progressive: Boolean = false,
    /** Dense-diff cutover: once `denseCutoverAfterLevels` levels have run
      * with a CUMULATIVE prune rate below `DenseCutoverPruneRate`, the
      * table differs ~everywhere and further bisection is strictly wasted
      * remote work — every deeper level re-checksums rows that will be
      * leaf-fetched anyway (at a 50% diff rate the remote would run
      * O(N/threshold) checksum statements that prune nothing). The loop
      * then stops bisecting and the remaining frontier is fetched
      * (batched statements, or ONE partitioned JDBC scan on engines that
      * expose `jdbcSource`) and joindiffed locally — the same regime call
      * HashDiffer makes when every bucket is dirty (HashDiffer cutover),
      * and the reference's own instinct for segmentation-hostile cases
      * (cloud-DB bypass, joindiff_tables.py:159-163).
      * `Int.MaxValue` disables. */
    val denseCutoverAfterLevels: Int = 2,
    /** Split boxes at sampled row-quantiles instead of arithmetic
      * mid-widths — the root at level 0 and every level's dirty parents
      * (each sampling side cuts all of its parents in one batch). Sparse/clustered
      * key spaces — snowflake IDs with epoch gaps, tenant prefixes —
      * make arithmetic children wildly unbalanced: one child holds
      * ~every row and the loop burns whole levels (each a remote
      * round-trip re-checksumming the same rows) narrowing key WIDTH
      * toward the dense sliver. Quantile splits cut where the rows
      * actually are, so the level count is ~log_factor(n/threshold)
      * regardless of key distribution. Correctness is unaffected either
      * way — splits only refine HOW a box is partitioned, never its
      * coverage; rows the sampling side lacks land in whichever segment
      * contains them (balance is estimated from one side — the sides agree
      * modulo the diff itself — and a parent that side cannot see falls
      * back to the arithmetic split). Single-column keys only (compound
      * keys always use the arithmetic mesh). Cost: one sampled
      * key-column pass per level plus one count up front. A Spark side
      * samples its own rows in a local pass; between two remote sides
      * each parent samples on its larger side through a dialect-level
      * deterministic sample — sampleSql ordered by md5-of-key
      * (RemoteSide.samples). ON by default: measured 6→2 levels / 13→7 remote
      * round-trips on snowflake-ID keys with bit-identical rows
      * (ScaleProbe), and on already-uniform keys the splits land within
      * one level of the arithmetic ones (spec-pinned) — the sampling
      * pass is a column-pruned scan of the frontier's slice only, noise
      * against one saved round-trip. `--no-quantile-seed` restores the
      * reference's arithmetic checkpoints (utils.py:321-324). */
    val quantileSeed: Boolean = true) {

  /** The cutover CANDIDACY decision. Two triggers:
    *  - the configured rule: `denseCutoverAfterLevels` levels done with a
    *    cumulative prune rate below `DenseCutoverPruneRate` — multi-level
    *    evidence that bisection is not pruning (HashDiffer makes the same
    *    call when every bucket is dirty after a hash round);
    *  - the small-frontier fast path: the un-pruned frontier holds at most
    *    `DenseCutoverFrontierFactor × bisectionThreshold` rows (by the
    *    level's own counts, max of the two sides per segment), so bulk-
    *    fetching it NOW costs no more than a few leaf fetches and every
    *    further checksum level is pure overhead.
    * A zero-prune level alone is NOT evidence of density and never
    * triggers: with diffs merely scattered (≥1 per top-level segment —
    * 32 rows suffice at the default factor), level 0 prunes nothing while
    * the frontier still spans essentially the whole table, and cutting
    * over would bulk-fetch O(N) rows for an O(diff) job — at warehouse
    * scale, an outage rather than a diff. For the same reason a candidate
    * cutover whose frontier is NOT small is only a candidate: the engine
    * confirms density first by checksumming one level deeper on a strided
    * sample of split parents (one extra batch round-trip). Truly dense
    * tables keep their sampled children dirty and cut over; scattered
    * diffs prune most sampled children clean, the cutover is vetoed, and
    * the loop keeps bisecting — the cumulative prune rate then rises and
    * candidacy stops firing. `denseCutoverAfterLevels = Int.MaxValue`
    * disables everything. */
  def denseCutover(levelsDone: Int, probed: Int, pruned: Int,
      frontierRows: Long, bisectionThreshold: Int): Boolean =
    denseCutoverAfterLevels != Int.MaxValue &&
      (levelsDone >= denseCutoverAfterLevels ||
        frontierRows <= PushdownControl.DenseCutoverFrontierFactor.toLong * bisectionThreshold) &&
      pruned.toDouble / probed < PushdownControl.DenseCutoverPruneRate

  @volatile private[this] var ignoredSet: Set[String] = Set.empty
  def ignoreColumn(cols: String*): Unit = ignoredSet ++= cols
  def ignored: Set[String] = ignoredSet

  /** Progressive mode only: one call per level that produced leaves, with
    * that level's compared diff rows. Default no-op. */
  def onLeafDiff(level: Int, diff: DataFrame): Unit = ()

  def onLevel(info: PushdownLevel): Unit =
    if (info.millis > checksumWarnSeconds * 1000L)
      Console.err.println(
        f"[graft] pushdown level ${info.level} (${info.segments} segments) took " +
          f"${info.millis / 1000.0}%.1f s — over the $checksumWarnSeconds s checksum " +
          "guardrail; consider a smaller bisection factor, a higher threshold, or " +
          "ignoring hot columns (PushdownControl.ignoreColumn)")
}

object PushdownControl {
  /** Reference: table_segment.py:20 DEFAULT duration guardrail (~20 s). */
  val DefaultChecksumWarnSeconds = 20
  /** Cumulative prune rate below which levels count as not pruning. */
  val DenseCutoverPruneRate = 0.10
  /** Small-frontier fast path bound, in units of `bisectionThreshold`
    * rows (see denseCutover). */
  val DenseCutoverFrontierFactor = 4
}

/** Cross-engine hashdiff of a Spark-readable segment against a remote table:
  * the [[Bisection]] engine with a [[SparkSide]] as side a ('-') and a
  * [[RemoteSide]] as side b ('+'). Checksum SQL is pushed to the remote,
  * and only bucket summaries plus leaf rows cross the wire.
  */
object PushdownDiffer {

  /** Default control knobs (reference: hashdiff_tables.py:19-20). */
  val DefaultBisectionFactor = 32
  val DefaultBisectionThreshold = 16 * 1024
  /** The engine's per-statement segment cap ([[Bisection.MaxSegmentsPerQuery]]). */
  val DefaultMaxSegmentsPerQuery: Int = Bisection.MaxSegmentsPerQuery

  def diff(local: TableSegment, remote: RemoteTable,
      bisectionFactor: Int = DefaultBisectionFactor,
      bisectionThreshold: Int = DefaultBisectionThreshold): DataFrame =
    diffWithStats(local, remote, bisectionFactor, bisectionThreshold)._1

  def diffWithStats(local: TableSegment, remote: RemoteTable,
      bisectionFactor: Int = DefaultBisectionFactor,
      bisectionThreshold: Int = DefaultBisectionThreshold,
      control: PushdownControl = new PushdownControl()): (DataFrame, PushdownStats) =
    Bisection.diff(SparkSide(local), RemoteSide(local.df.sparkSession, remote),
      bisectionFactor, bisectionThreshold, control)
}


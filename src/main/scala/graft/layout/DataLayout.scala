package graft.layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Multi-dimensional data layout: Z-order (Morton) clustered writes, a
  * VERSIONED min/max file manifest, manifest-pruned scans, incremental
  * maintenance (clustered append, targeted compaction, targeted delete),
  * time travel, vacuum, and a churn-proportional diff between versions.
  *
  * This is the 100 TB operator the sf-scale gates can only hint at: a table
  * diffed or filtered on two+ dimensions (say `(customer, price)` or
  * `(tenant, day)`) wants its FILES clustered so a 2-D predicate touches a
  * handful of them, not all. One dimension is free (sort by it); two or more
  * need a space-filling curve. Z-order interleaves the dimension bits so
  * file-contiguous key ranges are axis-aligned-ish rectangles in dimension
  * space — the same layout trick Delta Lake's OPTIMIZE ZORDER and Iceberg's
  * sort orders ship, built here from plain Spark primitives:
  *
  *  - the key is a fold of builtin bit ops (`shiftright`/`bitwiseAND`/
  *    `shiftleft`/`+`) — whole-stage-codegen'd, no UDF, no custom
  *    expression, and replicable verbatim in any engine's SQL (the DuckDB
  *    oracle recomputes it with a list comprehension);
  *  - the clustered write is `repartitionByRange(zkey)` +
  *    `sortWithinPartitions(zkey)` — ONE range exchange whose sampling-based
  *    boundaries auto-balance file sizes at any scale;
  *  - the manifest is an APPEND-ONLY LOG of per-file stats rows under
  *    `_graft_manifest` (underscore paths are invisible to Spark's file
  *    index, exactly how `_delta_log` hides): a live row carries the file's
  *    min/max envelope, z-interval, row count, and `v_added`; a mutation
  *    that retires a file appends a TOMBSTONE row (`v_removed`). Data files
  *    are immutable — compaction and deletion write new files and tombstone
  *    old ones, so every historical version stays readable until [[vacuum]];
  *  - the pruned scan intersects the predicate's per-dimension interval with
  *    each alive file's [min, max] envelope and hands the surviving file
  *    list to the parquet reader. The driver holds file NAMES and stats only
  *    — the O(files) cost every manifest-backed format (Delta, Iceberg,
  *    Hudi) pays — and the row filter still pushes down inside the scan;
  *  - [[diffVersions]] is the payoff for a DIFF ENGINE: because files are
  *    immutable, two versions of a layout can be diffed by comparing file
  *    SETS in the manifest and join-diffing only the rows of files present
  *    in exactly one version — cost ∝ churn, not table size. The rsync of
  *    table diffs; the reference engine re-bisects the full key range for
  *    every comparison instead (data_diff/table_segment.py).
  *
  *  - DELETION VECTORS ([[deleteVectors]]) are the soft-delete fast path:
  *    matching rows' COORDINATES (file, `_metadata.row_index`) land in an
  *    append-only `_graft_dv` log as a new version; no data file is
  *    touched. Every reader applies the version's mask with one anti
  *    join; every rewrite (compaction, delete, merge, recluster,
  *    [[purgeDeletes]]) applies-and-purges it. Delta/Iceberg's deletion
  *    vectors / position deletes, from plain Spark primitives.
  *
  * NOTE: a mutated layout must be read through [[readLayout]]/[[skipScan]]
  * (manifest-routed); a plain `spark.read.parquet(dir)` sees retired files
  * and soft-deleted rows too — the same contract Delta directories have.
  */
object DataLayout {

  /** Morton (Z-order) key: interleave the low `bits` bits of each dimension
    * column into one non-negative Long.
    *
    * Bit `j` of dimension `ci` lands at position `j*k + (k-1-ci)` (dimension
    * 0 owns the more-significant bit of each group), so equal-prefix z-keys
    * bound every dimension simultaneously. Dimensions are read as signed
    * longs and only bits `0 until bits` are consulted — values outside
    * `[0, 2^bits)` alias by truncation (identically on every engine, since
    * `>>`/`&` are two's-complement there too); callers wanting true range
    * semantics bucket first with [[linearBucket]].
    */
  def zOrderKey(dims: Seq[Column], bits: Int): Column = {
    val k = dims.size
    require(k >= 1, "zOrderKey needs at least one dimension")
    require(bits >= 1 && bits * k <= 63,
      s"bits*dims must fit a signed Long: got $bits*$k")
    val terms = for {
      (c, ci) <- dims.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), j).bitwiseAND(lit(1L)),
      j * k + (k - 1 - ci))
    terms.reduce(_ + _)
  }

  /** A STRING column as a z-order dimension: the first `ceil(bits/8)`
    * UTF-8 bytes, zero-padded, packed big-endian and truncated to `bits`
    * bits — a non-negative long MONOTONE in the string's unsigned-byte
    * order (exactly the order parquet string min/max stats use), so a
    * layout clustered on `stringDim(col("lang"), bits)` skip-scans string
    * ranges through the same manifest envelopes as any long dimension.
    * Equal prefixes collide (ties are fine for clustering: they only
    * cost locality, never correctness); NULL stays NULL, like a NULL
    * long dim. All builtin expressions (encode/rpad/hex/conv), one
    * whole-stage-codegen'd projection, no UDF. */
  def stringDim(c: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 56, s"stringDim bits out of [1,56]: $bits")
    val k = (bits + 7) / 8
    // rpad with 0x00 AFTER encode: without padding, "b" (0x62) would pack
    // numerically above "ab" (0x6162) at k=2 while sorting below it
    val packed = conv(hex(substring(
      rpad(encode(c, "UTF-8"), k, Array[Byte](0)), 1, k)), 16, 10)
      .cast("long")
    shiftright(packed, k * 8 - bits)
  }

  /** Map a long-valued column clamped to `[lo, hi]` onto `[0, 2^bits)`,
    * integer-exactly: `((x - lo) * 2^bits) div (hi - lo + 1)`. */
  def linearBucket(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    require(hi > lo, s"linearBucket needs hi > lo, got [$lo, $hi]")
    require(bits >= 1 && bits <= 62, s"bits out of range: $bits")
    val span = hi - lo + 1
    require(span.toDouble * (1L << bits).toDouble < Long.MaxValue.toDouble,
      s"span * 2^bits overflows Long: span=$span bits=$bits")
    val x = greatest(lit(lo), least(lit(hi), c.cast("long")))
    call_function("div", (x - lit(lo)) * lit(1L << bits), lit(span))
  }

  /** Name of the hidden manifest-log directory under a z-ordered table. */
  val ManifestDir = "_graft_manifest"

  /** Sentinel for "the latest version". */
  val Latest: Long = Long.MaxValue

  /** Bounded OCC retries: appends re-commit (never conflict by
    * construction); deletion-vector deletes re-RUN ([[deleteVectors]]);
    * row-preserving rewrites re-VALIDATE then re-commit
    * ([[commitRewriteWithRetry]]); data-semantic rewrites (deleteWhere,
    * mergeInto) refuse on a lost race. */
  private val OccMaxRetries = 5

  /** Retry bound for commits whose retry is CHEAP and always-correct
    * (appends re-stamp already-written stats; row-preserving rewrites
    * re-validate O(files) metadata): under sustained contention two
    * writers can trade losses in lockstep — each loss is ~a coin flip —
    * so a bound of 5 fails a legitimate writer ~3% of the time exactly
    * when the system is busiest. 20 makes that ~1e-6 while still
    * backstopping a livelock; the jittered backoff below breaks the
    * lockstep itself. */
  private val CheapRetryMax = 20

  /** Small randomized backoff between OCC retries, so two writers that
    * collided once don't re-collide on the very next derive+commit. */
  private def retryBackoff(attempt: Int): Unit =
    Thread.sleep(5L + scala.util.Random.nextInt(25 * math.min(attempt, 4)))

  // ---- manifest log ------------------------------------------------------

  private def manifestPath(dir: String) = s"$dir/$ManifestDir"

  /** The raw manifest log (live rows + tombstones) — O(files) rows.
    * mergeSchema: a log written before a stats-schema extension (the
    * nulls_/hll_ columns arrived after min/max) holds old- and new-schema
    * part files side by side; merging footers keeps every column visible
    * no matter which file Spark would otherwise sample for the schema.
    * Old rows read NULL in the newer columns — [[tableStatsFromManifest]]
    * reports the affected stats as unknown instead of silently
    * undercounting.
    *
    * This is the RAW log, for the consumers that need per-commit rows
    * (history, txn markers, a writer's schema template); per-file
    * metadata answers come from the replay, [[manifestFold]]. Served as a
    * LocalRelation when the log is under [[LogLocal]]'s size cap, by the
    * distributed mergeSchema read past it. */
  def manifestLog(spark: SparkSession, dir: String): DataFrame =
    manifestRowsLocal(spark, dir) match {
      case Some((schema, rows)) =>
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
      case None =>
        spark.read.option("mergeSchema", "true").parquet(manifestPath(dir))
    }

  /** Driver-side manifest rows (None = missing dir, oversized log, or a
    * parquet shape [[LogLocal]] declines). Read only by the replay
    * ([[manifestFold]]), the raw-log readers ([[manifestLog]],
    * [[lastCommittedTxn]]) and vacuum's snapshot. */
  private def manifestRowsLocal(spark: SparkSession, dir: String,
      snapshot: Option[Seq[String]] = None)
      : Option[(StructType, Vector[org.apache.spark.sql.Row])] =
    LogLocal.read(spark, manifestPath(dir), snapshot)

  // ---- manifest replay ----------------------------------------------------

  /** One manifest `file` after replaying the log: the null-safe max of
    * every log column over the file's rows. A file's added row, its
    * tombstone twin and any vacuum-lingering duplicate carry identical
    * stats, so the max collapses them and `added`/`removed` are its
    * lifetime. Sentinel rows (`_graft_*`: version and horizon markers, txn
    * ledgers, schema-only versions) and tombstone-only files are entries
    * too. `fingerprint` is the (content_fp, n_rows) pair of a real file
    * that recorded both. `row` is the folded row in the fold's schema. */
  private[layout] final case class FileEntry(file: String,
      added: Option[Long], removed: Option[Long],
      fingerprint: Option[(BigDecimal, Long)], row: org.apache.spark.sql.Row) {
    /** Added at or before `v` and not tombstoned at or before it. */
    def aliveAt(v: Long): Boolean = added.exists(_ <= v) && removed.forall(_ > v)
    def sentinel: Boolean = file.startsWith("_graft_")
  }

  /** The manifest log replayed per file — every layout metadata answer
    * (version, horizon, alive set, lifetimes, fingerprints) derives from
    * it. `schema` is the `groupBy("file")`/`max` shape: `file`, the stats
    * columns, then `v_added`, `v_removed`. */
  private[layout] final case class ManifestFold(schema: StructType,
      entries: Vector[FileEntry]) {
    /** Highest version any log row records; −1 for an empty log. */
    def maxVersion: Long = entries.iterator
      .map(e => math.max(e.added.getOrElse(-1L), e.removed.getOrElse(-1L)))
      .foldLeft(-1L)(math.max)

    /** The vacuum horizon marker: the lowest time-travelable version, 0
      * when never vacuumed with retention. */
    def horizon: Long =
      entries.find(_.file == VersionHorizonFile).flatMap(_.added).getOrElse(0L)

    /** Files alive at `version`. An explicit version below the vacuum
      * horizon refuses loudly — its files were physically removed, and a
      * silently partial table is the one thing a versioned read must never
      * return. Latest and negative versions (the synthetic "before
      * anything" state, empty by construction) skip the check. */
    def aliveAt(dir: String, version: Long): Vector[FileEntry] = {
      val h = horizon
      require(version == Latest || version < 0 || version >= h,
        s"version $version of $dir predates the vacuum horizon $h — its " +
          "files were physically removed; time travel reaches versions >= " +
          s"$h. Vacuum with a larger retainVersions to keep more history.")
      entries.filter(_.aliveAt(version))
    }

    /** `es` as a LocalRelation frame (jobless to project and collect). */
    def frame(spark: SparkSession, es: Seq[FileEntry]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(es.map(_.row): _*), schema)

    /** Accessor for a long stats column of an entry (None when null or
      * not in the log). */
    def longCol(name: String): FileEntry => Option[Long] = {
      val i = schema.fieldNames.indexOf(name)
      e => if (i < 0 || e.row.isNullAt(i)) None else Some(e.row.getLong(i))
    }
  }

  /** Replay raw manifest `rows` per file, on the driver (Spark `max`
    * semantics via [[LogLocal.maxVal]]). Idempotent: rows already grouped
    * by file pass through unchanged, which is how the distributed replay
    * lands in the same shape. */
  private def foldManifest(schema: StructType,
      rows: Seq[org.apache.spark.sql.Row]): ManifestFold = {
    val names = schema.fieldNames
    val iFile = names.indexOf("file")
    val lifetime = Seq("v_added", "v_removed").map(names.indexOf(_))
    if (iFile < 0 || lifetime.contains(-1))
      return ManifestFold(new StructType().add("file", "string")
        .add("v_added", "long").add("v_removed", "long"), Vector.empty)
    val cols = (names.indices.filterNot(i => i == iFile || lifetime.contains(i)) ++
      lifetime).toArray
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Array[Any]]
    for (r <- rows if !r.isNullAt(iFile)) {
      val a = acc.getOrElseUpdate(r.getString(iFile), new Array[Any](cols.length))
      var i = 0
      while (i < cols.length) { a(i) = LogLocal.maxVal(a(i), r.get(cols(i))); i += 1 }
    }
    val out = StructType(schema.fields(iFile) +: cols.map(schema.fields(_)).toSeq)
    val on = out.fieldNames
    val Seq(iA, iR, iFp, iN) =
      Seq("v_added", "v_removed", "content_fp", "n_rows").map(on.indexOf(_))
    def long(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (i < 0 || r.isNullAt(i)) None else Some(r.getLong(i))
    ManifestFold(out, acc.iterator.map { case (f, a) =>
      val row = org.apache.spark.sql.Row.fromSeq(f +: a.toSeq)
      val fp =
        if (f.startsWith("_graft_") || iFp < 0 || row.isNullAt(iFp)) None
        else long(row, iN).map(n => (BigDecimal(row.getDecimal(iFp)), n))
      FileEntry(f, long(row, iA), long(row, iR), fp, row)
    }.toVector)
  }

  /** THE manifest replay, and the one place that chooses between the
    * driver-side decode and a Spark read: below [[LogLocal]]'s size cap
    * the log's rows fold on the driver (zero jobs); past it the same
    * per-file max runs as one Spark `groupBy` whose O(files) result is
    * collected. Every derivation downstream is shared. */
  private[layout] def manifestFold(spark: SparkSession, dir: String): ManifestFold =
    manifestRowsLocal(spark, dir) match {
      case Some((schema, rows)) => foldManifest(schema, rows)
      case None =>
        val log = spark.read.option("mergeSchema", "true").parquet(manifestPath(dir))
        val aggs = log.columns.toSeq.filterNot(_ == "file").map(c => max(col(c)).as(c))
        val g = log.groupBy("file").agg(aggs.head, aggs.tail: _*)
        foldManifest(g.schema, g.collect().toSeq)
    }

  /** Highest version recorded across the manifest log AND the
    * deletion-vector log (a DV commit is a version like any other — time
    * travel to just before it must un-hide its rows). −1 for a missing
    * layout. */
  def currentVersion(spark: SparkSession, dir: String): Long = {
    val m =
      if (!fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(manifestPath(dir)))) -1L
      else manifestFold(spark, dir).maxVersion
    math.max(m, dvMaxVersion(spark, dir))
  }

  /** Max version in the DV log (−1 when empty/missing), answered from the
    * commit FILE NAMES: every DV commit lands as `commit-v{v}.parquet`
    * ([[commitLogFile]]), and a vacuum-compacted base (`vacuum-*.parquet`)
    * only ever carries versions at or below the manifest's high-water-mark
    * marker, which the manifest leg of every caller covers. Any other name
    * (a clone's copied log) replays the DV log instead. `snapshot` = a
    * caller-held file list (vacuum's) instead of a listing. */
  private def dvMaxVersion(spark: SparkSession, dir: String,
      snapshot: Option[Seq[String]] = None): Long = {
    val names = snapshot.getOrElse(
      LogLocal.logFiles(fsOf(spark, dir), new org.apache.hadoop.fs.Path(dvPath(dir)))
        .getOrElse(Nil).map(_.getPath.toString))
      .map(new org.apache.hadoop.fs.Path(_).getName)
    val parsed: Seq[Option[Long]] = names.map {
      case n if n.startsWith("commit-v") =>
        n.stripPrefix("commit-v").stripSuffix(".parquet").toLongOption
      case n if n.startsWith("vacuum-") => Some(-1L)
      case _ => None
    }
    if (parsed.forall(_.isDefined)) (-1L +: parsed.flatten).max
    else dvFold(spark, dir, snapshot).maxVersion
  }

  /** One stats row per file ALIVE at `version`: added at or before it,
    * not tombstoned at or before it — a LocalRelation over the replayed
    * manifest, so projecting and collecting it costs no Spark job. An
    * explicit version below the vacuum horizon refuses loudly
    * ([[ManifestFold.aliveAt]]). */
  def aliveManifest(spark: SparkSession, dir: String,
      version: Long = Latest): DataFrame = {
    val m = manifestFold(spark, dir)
    m.frame(spark, m.aliveAt(dir, version))
  }

  /** Canonical column order for log writes, so parquet appends across
    * mutations always carry an identical schema. */
  private def normalizeLog(df: DataFrame): DataFrame = {
    val mid = df.columns.filterNot(Set("file", "v_added", "v_removed")).sorted
    df.select(("file" +: mid.toSeq :+ "v_added" :+ "v_removed").map(col): _*)
  }

  /** Commit `rows` into `logDir` as ONE part file renamed into place as
    * `commit-v{v}.parquet` — the stage-then-rename makes every version
    * commit three things at once:
    *
    *  - ATOMIC: readers (a parallel query, the change-feed stream's poll
    *    thread) see the version fully or not at all — one file, one
    *    rename, never a partially-visible row set;
    *  - CRASH-CLEAN: a crash before the rename leaves only a `_stage_*`
    *    dir Spark readers ignore (vacuum sweeps it); there is no claim
    *    marker that could wedge the next writer;
    *  - PUT-IF-ABSENT: Hadoop `rename` refuses an existing destination,
    *    so two mutators that both derived version v race to ONE winner —
    *    the loser gets ConcurrentModificationException instead of silently
    *    corrupting the log (optimistic concurrency, the same commit
    *    discipline Delta's log takes from `put-if-absent`). Cross-LOG
    *    races (a manifest mutation vs a DV delete claiming the same v)
    *    are not arbitrated — the single-mutator deployment contract
    *    stands; this turns same-log races from corruption into an error.
    *
    * This is the commit point of every mutation; data files written
    * before it are invisible orphans until it lands. */
  /** `smallMeta = true` marks commits whose row count is O(files) BY
    * CONSTRUCTION (manifest stats rows, vacuum bases — never DV
    * coordinate logs): those collect to the driver and stage through
    * [[LogLocal.writeLocal]] — one driver-side parquet write instead of a
    * full Spark plan/schedule/FileFormatWriter cycle per version commit.
    * The rename-into-place protocol below is identical either way. */
  private[layout] def commitLogFile(logDir: String, rows: DataFrame, v: Long,
      smallMeta: Boolean = false): Unit = {
    val lp = new org.apache.hadoop.fs.Path(logDir)
    val fs = lp.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
    val (part, residue) = stageLogFile(logDir, rows, smallMeta)
    val dest = new org.apache.hadoop.fs.Path(logDir, s"commit-v$v.parquet")
    // IN-PROCESS serialization of the put-if-absent: Hadoop's LOCAL rename
    // is check-then-rename (a TOCTOU — two simultaneous renames can both
    // pass the existence check and the second silently OVERWRITES the
    // first via POSIX rename(2), losing a committed version). One JVM-wide
    // lock around the check+rename closes it for same-process racers (the
    // streaming sink's zombie twins, concurrent maintenance — exactly the
    // supported local concurrency); HDFS refuses an existing destination
    // server-side regardless, and object-store deployments commit through
    // their store's conditional-put semantics. Same shape as Delta's
    // local LogStore, which documents precisely this JVM-scoped guarantee.
    val ok = commitRenameLock.synchronized {
      if (fs.exists(dest)) false
      else
        try fs.rename(part, dest)
        catch { case _: java.io.IOException => false }
    }
    fs.delete(residue, true) // a lost race also drops the staged file here
    if (!ok) {
      throw new java.util.ConcurrentModificationException(
        s"version $v of ${lp.getParent} was committed by a concurrent writer " +
          "while this mutation ran — re-read the layout and retry")
    }
  }

  /** JVM-wide lock for [[commitLogFile]]'s put-if-absent window. */
  private val commitRenameLock = new Object

  /** The stage step every log write shares: `rows` as ONE parquet file
    * under `logDir`, invisible to log readers until renamed into place.
    * `smallMeta` rows go through [[LogLocal.writeLocal]] as a driver-side
    * `_stage_<12 hex>.parquet`; the rest (or a type the local writer does
    * not handle) through a Spark `coalesce(1)` write into a `_stage_<uuid>`
    * dir. Returns the part file and the residue to delete after the
    * rename: the stage dir, or the staged file itself (gone once renamed). */
  private def stageLogFile(logDir: String, rows: DataFrame,
      smallMeta: Boolean): (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = {
    val spark = rows.sparkSession
    if (smallMeta) {
      val p = new org.apache.hadoop.fs.Path(logDir,
        s"_stage_${java.util.UUID.randomUUID.toString.take(12)}.parquet")
      // collect is jobless for LocalRelation rows (vacuum bases), one tiny
      // agg job for stats frames — the rows are O(files) either way
      if (LogLocal.writeLocal(spark, rows.schema, rows.collect().toSeq, p))
        return (p, p)
    }
    val stage = new org.apache.hadoop.fs.Path(logDir,
      s"_stage_${java.util.UUID.randomUUID}")
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rows.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse {
        fs.delete(stage, true)
        throw new IllegalStateException(s"staged log write left no part file under $stage")
      }
    (part, stage)
  }

  private def appendLog(dir: String, rows: DataFrame, v: Long): Unit =
    commitLogFile(manifestPath(dir), normalizeLog(rows), v, smallMeta = true)

  /** Land a vacuum's compacted log base as ONE uniquely-named file via
    * stage + rename. Unlike [[commitLogFile]] there is no put-if-absent to
    * win — the name is fresh by construction (UUID); atomicity (readers see
    * the base whole or not at all) is what the rename buys here.
    * `smallMeta` as in [[commitLogFile]] (manifest bases are O(files);
    * DV bases are coordinate-sized and keep the Spark write). */
  private def writeCompactedLog(spark: SparkSession, logDir: String,
      rows: DataFrame, smallMeta: Boolean = false): Unit = {
    val fs = fsOf(spark, logDir)
    val (part, residue) = stageLogFile(logDir, rows, smallMeta)
    val dest = new org.apache.hadoop.fs.Path(logDir,
      s"vacuum-${java.util.UUID.randomUUID.toString.take(12)}.parquet")
    require(fs.rename(part, dest), s"log compaction rename failed: $part -> $dest")
    fs.delete(residue, true)
  }

  /** OCC AUTO-RETRY for append commits: an append's log entry is disjoint
    * from ANY concurrent winner by construction — it references only its
    * own fresh data files and tombstones nothing — so losing the
    * put-if-absent race is not a data conflict. Re-derive the version from
    * the winner's log and re-commit the same stats (bounded); the data
    * files are already on disk and need no rewrite. The serialization is
    * "winner, then this append", which is correct for any winner: a
    * concurrent rewrite/delete read the manifest before this append
    * committed, so its rewrite never covered (and never needed to cover)
    * these fresh files. REWRITES (compact/delete/merge/recluster/purge)
    * still refuse on a lost race: their tombstone sets can collide with
    * the winner's. Returns the version that actually committed. */
  private[layout] def commitAppendWithRetry(spark: SparkSession, dir: String,
      statsAt: Long => DataFrame, firstV: Long): Long =
    commitAppendWithRetryOrAbort(spark, dir, statsAt, firstV, () => false)
      .getOrElse(throw new IllegalStateException("unreachable: no abort guard"))

  /** [[commitAppendWithRetry]] with an abort guard re-evaluated after every
    * LOST race: when the guard fires the append gives up cleanly (None)
    * instead of re-committing — the exactly-once lever for the streaming
    * sink, whose guard is "did a zombie twin already land this batch id?". */
  private[layout] def commitAppendWithRetryOrAbort(spark: SparkSession,
      dir: String, statsAt: Long => DataFrame, firstV: Long,
      abortIf: () => Boolean): Option[Long] = {
    var vNow = firstV
    var attempt = 0
    while (true) {
      try { appendLog(dir, statsAt(vNow), vNow); return Some(vNow) }
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (abortIf()) return None
          attempt += 1
          if (attempt > CheapRetryMax) throw e
          retryBackoff(attempt)
          vNow = currentVersion(spark, dir) + 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** OCC AUTO-RETRY for ROW-PRESERVING rewrites (compaction, bin-pack,
    * recluster, purge): a rewrite that loses the put-if-absent race
    * RE-VALIDATES instead of refusing, and re-commits when the
    * interleaved winner(s) could not have invalidated its work:
    *
    *  - every file this rewrite tombstones is STILL ALIVE at the winner's
    *    latest version (an append never retires files — so compaction
    *    racing a streaming append lands BOTH; a conflicting rewrite WOULD
    *    have retired them — still refused), and
    *  - no deletion-vector commit landed on those files after this
    *    rewrite's masked read (the staged output would silently
    *    resurrect freshly-masked rows — refused, re-run re-reads).
    *
    * The serialization is "winner(s), then this rewrite", which is exact
    * for row-preserving rewrites: the winner's fresh files are untouched
    * by this rewrite's tombstones, and this rewrite's output rows are
    * byte-derived from files the winner provably did not change.
    * Data-SEMANTIC rewrites (deleteWhere, mergeInto) keep the plain
    * refusal: their row decisions could miss a winner's concurrent rows. */
  private def commitRewriteWithRetry(spark: SparkSession, dir: String,
      retired: Seq[String], snapshotV: Long,
      rowsAt: Long => DataFrame, firstV: Long): Unit = {
    var v = firstV
    var attempt = 0
    while (true) {
      try { appendLog(dir, rowsAt(v), v); return }
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > CheapRetryMax) throw e
          retryBackoff(attempt)
          val aliveNow = aliveManifest(spark, dir).select("file")
            .collect().map(_.getString(0)).toSet // O(files)
          val gone = retired.filterNot(aliveNow)
          if (gone.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"rewrite of $dir lost its race to a winner that retired " +
                s"${gone.size} of the same files — re-read and re-run")
          val retiredCanon = retired.map(canon).toSet
          val dvTouched = dvFold(spark, dir).entries
            .exists(e => e.v > snapshotV && retiredCanon(e.file))
          if (dvTouched)
            throw new java.util.ConcurrentModificationException(
              s"rewrite of $dir lost its race to a deletion-vector commit " +
                "on the files it rewrote — re-run to apply the fresh mask")
          v = currentVersion(spark, dir) + 1
      }
    }
  }

  // ---- streaming-transaction markers ---------------------------------------

  /** Highest `txnBatch` ever committed for `txnApp`, answered from the
    * manifest log alone. Transaction markers ride INSIDE the commit's own
    * parquet file (extra columns on that version's stats rows), so marker
    * and data land in one atomic rename — Delta's `SetTransaction` idea
    * spelled over our log. None when the app never committed (including
    * logs predating the columns: mergeSchema reads them as NULL). */
  def lastCommittedTxn(spark: SparkSession, dir: String,
      txnApp: String): Option[Long] = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(new org.apache.hadoop.fs.Path(manifestPath(dir)))) return None
    manifestRowsLocal(spark, dir) match {
      case Some((s, rows)) =>
        val iApp = s.fieldNames.indexOf("txn_app")
        val iB = s.fieldNames.indexOf("txn_batch")
        if (iApp < 0 || iB < 0) None
        else {
          val bs = rows.iterator.filter(r =>
            !r.isNullAt(iApp) && r.getString(iApp) == txnApp &&
              !r.isNullAt(iB)).map(_.getLong(iB))
          if (bs.hasNext) Some(bs.max) else None
        }
      case None =>
        val log = manifestLog(spark, dir)
        if (!log.columns.contains("txn_app")) return None
        val r = log.where(col("txn_app") === txnApp).agg(max("txn_batch")).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
  }

  /** Tombstone rows for `files`: their alive stats rows re-emitted with
    * v_added cleared and v_removed = `v` (the stats ride along so the log
    * alone reconstructs any version). */
  private def tombstones(alive: DataFrame, files: Seq[String], v: Long): DataFrame =
    alive.where(col("file").isin(files: _*))
      .withColumn("v_added", lit(null).cast("long"))
      .withColumn("v_removed", lit(v))

  /** The stage-write → rename-into-layout commit path every file REWRITE
    * (compaction, targeted delete, merge) shares: z-cluster `staged` into
    * `nOut` files under a hidden stage dir, run the manifest's stats pass
    * over the STAGE files, then move the NON-EMPTY results into `dir`
    * under `prefix`. Spark's writer emits one schema-only part file for
    * an empty frame; such a file would never get a stats row, so renaming
    * it would leave an unmanifested orphan visible to plain
    * `spark.read.parquet(dir)` readers — empties are exactly the staged
    * files ABSENT from the stats result and are deleted with the stage
    * dir instead (the per-file parquet-footer probes this replaced cost
    * one metadata round-trip per file). Returns the final names WITH
    * their driver-local stats rows ([[FreshStats]]). */

  /** A direct-commit data SUBDIR under the layout root: per-append
    * `append-v{v}-{uuid}` and per-rewrite `rewrite-{op}_v{v}-{uuid}` dirs
    * a direct-mode write lands in (no data-byte renames — visibility is
    * the manifest commit alone). One predicate so listing, vacuum's
    * residue sweep and the zombie cleanup can never disagree on what
    * counts as one. */
  private[layout] def isDirectSubdirName(n: String): Boolean =
    n.startsWith("append-v") || n.startsWith("rewrite-")

  /** Whether the layout DECLARED the object-store commit profile
    * ([[LayoutConfig]] `commitMode=direct`) — the default every mutation
    * surface inherits when its own call site carries no flag. */
  private def configDirect(spark: SparkSession, dir: String): Boolean =
    scala.util.Try(LayoutConfig.read(spark, dir)).toOption.flatten
      .exists(_.direct)

  /** Stats rows for freshly-written files, computed ONCE over the
    * stage/direct paths — in the same pass that decides which part files
    * are empty — and carried as driver-local rows with the `file` strings
    * already patched to the committed paths. `at(v)` stamps the version
    * as a LocalRelation: an OCC retry used to re-run the whole stats job
    * per attempt, and the manifest commit's collect is now jobless. */
  private[layout] final case class FreshStats(names: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row]) {
    def size: Int = names.size
    def isEmpty: Boolean = rows.isEmpty
    def at(spark: SparkSession, v: Long): Option[DataFrame] =
      if (rows.isEmpty) None
      else {
        val out = schema
          .add("v_added", org.apache.spark.sql.types.LongType)
          .add("v_removed", org.apache.spark.sql.types.LongType)
        Some(spark.createDataFrame(java.util.Arrays.asList(rows.map(r =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ v :+ null)): _*), out))
      }
    def ++(other: FreshStats): FreshStats =
      FreshStats(names ++ other.names,
        if (schema != null) schema else other.schema, rows ++ other.rows)
  }
  private[layout] val NoFresh = FreshStats(Nil, null, Nil)

  /** One [[fileStats]] pass over `paths`, collected driver-side and keyed
    * by canonical path. Files ABSENT from the result hold zero rows —
    * the same emptiness verdict the per-file parquet-footer reads used
    * to give, now falling out of the stats job the commit needs anyway. */
  private def collectStats(spark: SparkSession, paths: Seq[String],
      dims: Seq[Column], bits: Int, statsCols: Seq[String])
      : (org.apache.spark.sql.types.StructType,
        Map[String, org.apache.spark.sql.Row]) =
    if (paths.isEmpty) (null, Map.empty)
    else {
      val df = fileStats(spark.read.parquet(paths: _*), dims, bits, statsCols)
      val iFile = df.schema.fieldIndex("file")
      (df.schema,
        df.collect().map(r => canon(r.getString(iFile)) -> r).toMap)
    }

  private def stageRename(spark: SparkSession, dir: String, stage: String,
      prefix: String, staged: DataFrame, nOut: Int, dims: Seq[Column],
      bits: Int, statsCols: Seq[String]): FreshStats =
    stageRenamePreclustered(spark, dir, stage, prefix,
      zCluster(staged, nOut, dims, bits), dims, bits, statsCols)

  /** `staged` z-clustered into `nOut` in-partition-sorted partitions — the
    * shape every rewrite writes. Exposed separately so a multi-cluster
    * rewrite (compaction) can union several independently-clustered
    * frames and land them in ONE write action (union preserves child
    * partitioning — each branch's partitions become that branch's files). */
  private def zCluster(staged: DataFrame, nOut: Int, dims: Seq[Column],
      bits: Int): DataFrame = {
    val z = "_graft_z"
    staged.withColumn(z, zOrderKey(dims, bits))
      .repartitionByRange(nOut, col(z))
      .sortWithinPartitions(z)
      .drop(z)
  }

  private def stageRenamePreclustered(spark: SparkSession, dir: String,
      stage: String, prefix: String, clustered: DataFrame, dims: Seq[Column],
      bits: Int, statsCols: Seq[String]): FreshStats = {
    val fs = fsOf(spark, dir)
    // a direct-mode layout's rewrites skip the rename leg entirely: the
    // clustered output lands STRAIGHT in an exclusively-owned
    // `rewrite-{prefix}-{uuid}` subdir (same contract as appendZOrdered's
    // directCommit — atomicity never depended on the rename; on S3-class
    // stores each rename is a full copy of the rewritten bytes, which for
    // a compaction doubles the whole job's write volume)
    if (configDirect(spark, dir)) {
      val sub = s"$dir/rewrite-$prefix-${java.util.UUID.randomUUID.toString.take(8)}"
      clustered.write.mode("overwrite").parquet(sub)
      val listed = listDataFiles(spark, sub)
      val (schema, byCanon) = collectStats(spark, listed, dims, bits, statsCols)
      // empty part files (one per empty write partition) have no stats
      // row — delete them instead of committing unmanifested orphans
      val (keep, empty) = listed.partition(f => byCanon.contains(canon(f)))
      empty.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
      if (keep.isEmpty) fs.delete(new org.apache.hadoop.fs.Path(sub), true)
      return FreshStats(keep, schema, keep.map(f => byCanon(canon(f))))
    }
    clustered.write.mode("overwrite").parquet(stage)
    // ONE stats pass over the stage files decides emptiness AND yields the
    // manifest rows (the rename only moves bytes within the layout, so the
    // stats are the committed files' stats with the path patched) — the
    // per-file footer reads and the post-rename re-read job are gone
    val listed = listDataFiles(spark, stage)
    val (schema, byCanon) = collectStats(spark, listed, dims, bits, statsCols)
    val iFile = if (schema == null) -1 else schema.fieldIndex("file")
    require(schema == null || iFile == 0,
      s"fileStats must key by 'file' first: $schema")
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    for ((sf, i) <- listed.filter(f => byCanon.contains(canon(f))).zipWithIndex) {
      val src = new org.apache.hadoop.fs.Path(sf)
      val finalName = s"${prefix}_${i}_${src.getName}"
      val dst = new org.apache.hadoop.fs.Path(dir, finalName)
      require(fs.rename(src, dst), s"rename failed: $src -> $dst")
      names += dst.toString
      // patch the stats row's file string: replace its trailing
      // "<stageDirName>/<partName>" with the committed name — everything
      // up to the shared grandparent (the layout dir) is preserved
      // byte-for-byte in whatever form the scan produced it
      val row = byCanon(canon(sf))
      val s = row.getString(iFile)
      val slash1 = s.lastIndexOf('/')
      val parentEnd = s.lastIndexOf('/', slash1 - 1)
      require(parentEnd >= 0 && canon(s) == canon(sf),
        s"stats path $s does not match stage file $sf")
      rows += org.apache.spark.sql.Row.fromSeq(
        (s.substring(0, parentEnd + 1) + finalName) +: row.toSeq.drop(1))
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    FreshStats(names.toSeq, schema, rows.toSeq)
  }

  // ---- writes ------------------------------------------------------------

  /** Write `df` clustered by the Z-order of `dims` as VERSION 0 of a new
    * layout (replacing anything at `outDir`), then write the per-file
    * manifest for `statsCols`.
    *
    * One range exchange on the z-key (sampled boundaries — no skew knowledge
    * needed from the caller), an in-partition sort, `numFiles` output files,
    * then one O(rows) stats pass over what was written grouped by file —
    * shuffling only `files × statsCols` min/max pairs.
    */
  def writeZOrdered(df: DataFrame, dims: Seq[Column], bits: Int,
      statsCols: Seq[String], outDir: String, numFiles: Int): Unit = {
    // an overwrite keeps the dir's constraint log (invariants outlive any
    // one version) — so it is enforced here too
    Constraints.enforce(df.sparkSession, outDir, df, "writeZOrdered")
    writeClustered(df, dims, bits, statsCols, outDir, numFiles, append = false)
    ()
  }

  /** Z-order and APPEND a delta as a new version of an existing layout.
    * The delta alone is clustered (one range exchange over DELTA rows only —
    * base files are neither read nor rewritten), so ingestion cost is
    * ∝ delta; the price is z-range overlap between delta files and base
    * files, which [[compactZOrdered]] repays incrementally. */
  /** `directCommit = true` is the OBJECT-STORE append profile: the
    * clustered output lands DIRECTLY in a per-append subdir
    * (`append-v{v}-{uuid}/`) with no top-level rename — on S3-class
    * stores a rename is a full copy, so the rename-into-root staging is
    * pure cost there. Atomicity never depended on the rename anyway:
    * VISIBILITY IS THE MANIFEST COMMIT alone (manifest-routed readers see
    * nothing until `commit-v{v}.parquet` lands), attribution is exact
    * (the subdir is exclusively this append's), crash residue is an
    * unreferenced subdir vacuum's grace-aged sweep reclaims, and OCC
    * retry/exactly-once behave identically. The one trade: a plain
    * `spark.read.parquet(dir)` of the ROOT does not descend into
    * subdirs — direct-commit layouts are read through the manifest
    * (readLayout / skipScan / `USING graft`), which is the documented
    * contract everywhere anyway. */
  def appendZOrdered(delta: DataFrame, dims: Seq[Column], bits: Int,
      statsCols: Seq[String], outDir: String, numFiles: Int,
      directCommit: Boolean = false): Unit = {
    Constraints.enforce(delta.sparkSession, outDir, delta, "appendZOrdered")
    writeClustered(delta, dims, bits, statsCols, outDir, numFiles,
      append = true, directCommit = directCommit)
    ()
  }

  /** [[appendZOrdered]] under an EXACTLY-ONCE transaction marker: the
    * append commits only when no `(txnApp, txnBatch' >= txnBatch)` marker
    * is already in the log — marker and stats rows land in one atomic
    * commit file, so a replayed streaming micro-batch (restart recovery,
    * a zombie twin of the same query) is skipped, not duplicated. Returns
    * true when this call committed, false when the batch was already in.
    * The backing contract of `writeStream.format("graft")`
    * ([[GraftLayoutSink]]); callable directly for hand-rolled
    * `foreachBatch` ingestion too. */
  def appendZOrderedTxn(delta: DataFrame, dims: Seq[Column], bits: Int,
      statsCols: Seq[String], outDir: String, numFiles: Int,
      txnApp: String, txnBatch: Long,
      directCommit: Boolean = false): Boolean = {
    require(txnApp.nonEmpty, "txnApp must be a stable non-empty query id")
    Constraints.enforce(delta.sparkSession, outDir, delta, "appendZOrderedTxn")
    writeClustered(delta, dims, bits, statsCols, outDir, numFiles,
      append = true, txn = Some((txnApp, txnBatch)),
      directCommit = directCommit)
  }

  private[layout] def writeClustered(df: DataFrame, dims: Seq[Column], bits: Int,
      statsCols: Seq[String], outDir: String, numFiles: Int,
      append: Boolean, txn: Option[(String, Long)] = None,
      directCommit: Boolean = false): Boolean = {
    require(numFiles >= 1, s"numFiles must be >= 1: $numFiles")
    statsCols.foreach(c => require(df.columns.contains(c),
      s"stats column '$c' not in ${df.columns.mkString(",")}"))
    val spark = df.sparkSession
    // exactly-once fast path: a replayed micro-batch (same app, batch id at
    // or below the last committed one) skips before writing anything
    def txnAlreadyCommitted: Boolean = txn.exists { case (app, batch) =>
      lastCommittedTxn(spark, outDir, app).exists(_ >= batch)
    }
    // PIN the version BEFORE the txn fast-path check — in that order the
    // check is race-free: a zombie twin that commits the same (app, batch)
    // after the pin necessarily lands AT v, so our own commit at v collides
    // on put-if-absent and the abortIf guard cleans up. The reverse order
    // (check, then pin) left a window where the twin's commit both passed
    // the check and advanced the version, landing the batch twice.
    val v = if (append) currentVersion(spark, outDir) + 1 else 0L
    if (append && txnAlreadyCommitted) return false
    // schema evolution: an append may EXTEND the table's columns (new ones
    // land nullable; missing ones read NULL from the delta's files; type
    // changes refuse). Resolved BEFORE the write so a refusal costs nothing.
    val evolved: Option[org.apache.spark.sql.types.StructType] =
      if (!append) None
      else schemaAt(spark, outDir, Latest)
        .orElse(listDataFiles(spark, outDir).headOption
          .map(f => spark.read.parquet(f).schema))
        // no recorded schema AND no file (pre-log layout, fully erased):
        // the delta bootstraps the schema — nothing to merge against
        .flatMap { base =>
          val merged = mergeSchemas(base, df.schema)
          if (merged.fields.map(f => (f.name, f.dataType)).toSeq !=
            base.fields.map(f => (f.name, f.dataType)).toSeq) Some(merged)
          else None
        }
    val z = "_graft_z"
    def clusteredWrite(): Unit = df.withColumn(z, zOrderKey(dims, bits))
      .repartitionByRange(numFiles, col(z))
      .sortWithinPartitions(z)
      .drop(z)
      .write.mode("overwrite").parquet(outDir)
    // an append lands through a PRIVATE stage dir + rename, for two
    // reasons a direct mode("append") write cannot give: (a) POSITIVE
    // attribution of its own output — two concurrent appends (the OCC
    // retry scenario, or zombie twins of one streaming query) would each
    // see the other's files in a before/after set difference and
    // manifest rows they did not write; (b) crash-cleanliness — the long
    // clustered write happens in an invisible stage dir, shrinking the
    // window in which a crash leaves unmanifested files in the dir root
    // to the sub-second rename→commit gap (manifest-routed readers never
    // see such orphans; plain parquet readers do until the next aged
    // vacuum reclaims them). Overwrite keeps the direct
    // write: version 0 owns the whole dir by definition (the constraint
    // log must survive the dir deletion, though).
    // the call-site flag forces direct; a layout that DECLARED
    // commitMode=direct (LayoutConfig) gets it by default, so raw-API
    // appends against an S3-profile layout don't silently regress to
    // the rename path
    val effDirect = directCommit || (append && configDirect(spark, outDir))
    val fresh: FreshStats =
      if (append && effDirect) {
        // object-store profile (see appendZOrdered): write the clustered
        // output STRAIGHT into a fresh, exclusively-owned subdir — zero
        // renames of data bytes; the manifest commit below is the only
        // visibility event. Empty part files (Spark writes one per empty
        // partition) have no stats row and are dropped, as stageRename does.
        val sub = s"$outDir/append-v$v-${java.util.UUID.randomUUID.toString.take(8)}"
        df.withColumn(z, zOrderKey(dims, bits))
          .repartitionByRange(numFiles, col(z))
          .sortWithinPartitions(z)
          .drop(z)
          .write.mode("overwrite").parquet(sub)
        val fs = fsOf(spark, outDir)
        val listed = listDataFiles(spark, sub)
        val (sch, byCanon) =
          collectStats(spark, listed, dims, bits, statsCols)
        val (keep, empty) = listed.partition(f => byCanon.contains(canon(f)))
        empty.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
        if (keep.isEmpty) fs.delete(new org.apache.hadoop.fs.Path(sub), true)
        FreshStats(keep, sch, keep.map(f => byCanon(canon(f))))
      } else if (append)
        stageRename(spark, outDir,
          s"$outDir/_graft_append_${java.util.UUID.randomUUID.toString.take(8)}_stage",
          s"append_v$v", df, numFiles, dims, bits, statsCols)
      else {
        Constraints.preserveAcross(spark, outDir)(clusteredWrite())
        val listed = listDataFiles(spark, outDir)
        val (sch, byCanon) =
          collectStats(spark, listed, dims, bits, statsCols)
        FreshStats(listed, sch,
          listed.flatMap(f => byCanon.get(canon(f))))
      }
    def withTxn(stats: DataFrame): DataFrame = txn match {
      case Some((app, batch)) => stats
        .withColumn("txn_app", lit(app))
        .withColumn("txn_batch", lit(batch))
      case None => stats
    }
    // a zero-row delta stages no files. Without a txn marker OR a schema
    // change the append is a version-free no-op; WITH a txn the marker must
    // still commit (an empty micro-batch advances the exactly-once ledger,
    // like Delta's SetTransaction on empty batches), and WITH a schema
    // extension the new columns must still land (Delta records schema
    // changes on empty writes too — a CDC source can widen before its
    // first widened row arrives). Both spell as one never-alive sentinel
    // row, the same shape vacuum's ledger carry-over emits.
    if (append && fresh.isEmpty && txn.isEmpty && evolved.isEmpty) return true
    def statsAt(ver: Long): DataFrame =
      if (!fresh.isEmpty)
        // jobless per OCC attempt: the stats were collected once over the
        // staged files; only the version stamp changes between retries
        withTxn(fresh.at(spark, ver).get)
      else if (!append && fresh.schema != null)
        // version 0 of an empty frame: an EMPTY manifest, no sentinel
        withTxn(spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          fresh.schema
            .add("v_added", org.apache.spark.sql.types.LongType)
            .add("v_removed", org.apache.spark.sql.types.LongType)))
      else {
        val sentinelName = txn match {
          case Some((app, _)) => TxnHwmFilePrefix + app
          case None => SchemaEvolutionFile // empty delta, widened schema
        }
        // an empty FIRST batch has no log yet: the minimal columns suffice
        // (later commits widen; mergeSchema reads them back compatibly)
        val tmpl =
          if (fsOf(spark, outDir).exists(
            new org.apache.hadoop.fs.Path(manifestPath(outDir))))
            manifestLog(spark, outDir).schema
          else new org.apache.spark.sql.types.StructType()
            .add("file", org.apache.spark.sql.types.StringType)
            .add("v_added", org.apache.spark.sql.types.LongType)
            .add("v_removed", org.apache.spark.sql.types.LongType)
        withTxn(spark.range(1).select(tmpl.fields.toSeq
          .filterNot(f => f.name == "txn_app" || f.name == "txn_batch")
          .map { f => f.name match {
            case "file" => lit(sentinelName).as("file")
            case "v_added" | "v_removed" => lit(ver).cast("long").as(f.name)
            case other => lit(null).cast(f.dataType).as(other)
          }}: _*))
      }
    if (append) {
      val committed = commitAppendWithRetryOrAbort(spark, outDir, statsAt, v,
        abortIf = () => txnAlreadyCommitted)
      committed match {
        case None =>
          // a zombie twin of the same streaming query landed this batch id
          // between our fast-path check and the commit — our data files are
          // unmanifested duplicates; remove them so plain parquet readers
          // of the dir never see the batch twice
          val fs = fsOf(spark, outDir)
          fresh.names.foreach(f =>
            fs.delete(new org.apache.hadoop.fs.Path(f), false))
          // direct-commit appends own a subdir: drop it once no data file
          // remains (hidden markers like _SUCCESS don't count)
          fresh.names.map(f => new org.apache.hadoop.fs.Path(f).getParent)
            .distinct
            .filter(p => isDirectSubdirName(p.getName) && fs.exists(p) &&
              fs.listStatus(p).forall(s =>
                s.getPath.getName.startsWith("_") ||
                  s.getPath.getName.startsWith(".")))
            .foreach(p => fs.delete(p, true))
          return false
        case Some(vNow) =>
          // schema evolution re-resolves against the WINNER's latest schema
          // on a retried commit (the winner may have evolved it
          // concurrently). When that schema already covers the delta,
          // record NOTHING — falling back to the pre-race merge would pin
          // a STALE schema at the higher version and make the winner's
          // concurrently-added columns vanish from latest reads.
          val evolvedNow =
            if (vNow == v) evolved
            else schemaAt(spark, outDir, Latest).flatMap { base =>
              val merged = mergeSchemas(base, df.schema)
              if (merged.fields.map(f => (f.name, f.dataType)).toSeq !=
                base.fields.map(f => (f.name, f.dataType)).toSeq) Some(merged)
              else None
            }
          evolvedNow.foreach(recordSchema(spark, outDir, vNow, _))
      }
    } else {
      // version 0 owns a freshly-wiped dir: land the O(files) stats rows
      // driver-side when the types allow (one tiny collect instead of a
      // Spark write cycle), the plain write otherwise
      val rows = normalizeLog(statsAt(v))
      val dest = new org.apache.hadoop.fs.Path(manifestPath(outDir),
        s"part-local-${java.util.UUID.randomUUID.toString.take(12)}.parquet")
      if (!LogLocal.writeLocal(spark, rows.schema, rows.collect().toSeq, dest))
        rows.write.mode("overwrite").parquet(manifestPath(outDir))
      recordSchema(spark, outDir, 0L, df.schema)
    }
    true
  }

  /** Per-file stats (+ the z-key interval) for the given data — O(files)
    * output rows, partial-aggregated map-side. Beyond the min/max
    * envelope each stats column carries its null count and an HLL SKETCH
    * (`hll_sketch_agg` binary) — sketches are union-mergeable, so
    * table-level NDV at any version is one `hll_union_agg` over manifest
    * rows, never a data scan ([[tableStatsFromManifest]]) — plus the
    * file's CONTENT FINGERPRINT (see [[contentFingerprint]]), the rsync
    * lever that lets [[diffLayouts]] prune byte-identical files between
    * two layouts before any row work. */
  private def fileStats(df: DataFrame, dims: Seq[Column], bits: Int,
      statsCols: Seq[String]): DataFrame = {
    // sketch the xxhash64 of the value, not the value: the HLL aggregate
    // only takes int/long/string/binary, and hashing first makes every
    // column type (double, decimal, date, …) sketchable with identical
    // NDV up to negligible 64-bit collisions; nulls stay out of the
    // sketch (they're counted separately) via the isNotNull gate
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        count_if(col(c).isNull).as(s"nulls_$c"),
        hll_sketch_agg(when(col(c).isNotNull, xxhash64(col(c))))
          .as(s"hll_$c"))) ++
      Seq(min(col("_graft_z")).as("zmin"), max(col("_graft_z")).as("zmax"),
        count(lit(1)).as("n_rows"),
        contentFingerprint(df.columns.toSeq).as("content_fp"))
    df.withColumn("_graft_z", zOrderKey(dims, bits))
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Multiset CONTENT FINGERPRINT of a row group: the exact DECIMAL(38,0)
    * sum of per-row 64-bit hashes — row-order-insensitive (a sum), ADDITIVE
    * across files (the fingerprint of a union is the sum of fingerprints,
    * so two layouts clustered DIFFERENTLY still compare whole-table by one
    * sum), and null-position-exact: each column hashes to a never-null
    * long first (xxhash64 of a null input returns its seed), so the outer
    * hash sees every column position. Columns enter sorted by name, so two
    * layouts with different column ORDER fingerprint equal. All builtin
    * xxhash64 — whole-stage codegen'd, ~10× cheaper at write time than the
    * md5 path ([[graft.diff.Checksum]] stays the cross-engine-parity
    * checksum; this fingerprint only ever compares graft layouts to graft
    * layouts, both sides computed by this very expression). */
  private[layout] def contentFingerprint(dataCols: Seq[String]): Column =
    sum(xxhash64(dataCols.sorted.map(c => xxhash64(col(c))): _*)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0)))

  /** Scheme-insensitive canonical form for comparing file names coming
    * from `input_file_name()` (file:///x) vs Hadoop listings (file:/x). */
  private[layout] def canon(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data files physically under the layout dir (manifest and hidden paths
    * excluded) — via the Hadoop FileSystem API, so the same code lists
    * local dirs in tests and object stores on a cluster. Includes retired
    * files until [[vacuum]]; version-aware readers use [[aliveManifest]]. */
  private[layout] def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(path)) return Seq.empty
    def files(entries: Seq[org.apache.hadoop.fs.FileStatus]) =
      entries.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        .map(_.getPath.toString)
    val entries = fs.listStatus(path).toSeq
    // direct-commit writes land in per-append `append-v*` / per-rewrite
    // `rewrite-*` subdirs (see appendZOrdered's directCommit and
    // stageRename's direct path): one extra listing level, still
    // O(files) total
    val sub = entries
      .filter(s => s.isDirectory && isDirectSubdirName(s.getPath.getName))
      .flatMap(d => files(fs.listStatus(d.getPath).toSeq))
    (files(entries) ++ sub).sorted
  }

  // ---- schema log --------------------------------------------------------

  /** Name of the hidden schema-log directory under a layout. */
  val SchemaDir = "_graft_schema"

  private def schemaPath(dir: String) = s"$dir/$SchemaDir"

  /** SCHEMA EVOLUTION without rewriting a byte: the layout's schema is a
    * VERSIONED artifact — one `(v, schema_json)` row per change, written
    * when an append's column set extends the table. Readers resolve the
    * schema effective at their version in O(1) metadata (never by merging
    * 100k parquet footers the way `mergeSchema` would) and hand it to the
    * scan, which fills columns absent from older files with NULL — Delta's
    * schema-in-the-transaction-log design. Old versions keep their OLD
    * schema: time travel to before a column existed doesn't show it.
    * None = the layout predates any evolution; readers use a data file's
    * own footer (all files share one schema in that case). */
  private[layout] def schemaAt(spark: SparkSession, dir: String,
      version: Long): Option[org.apache.spark.sql.types.StructType] = {
    val p = new org.apache.hadoop.fs.Path(schemaPath(dir))
    if (!fsOf(spark, dir).exists(p)) None
    else {
      // the schema log is a handful of (v, schema_json) rows: served
      // driver-side (zero Spark jobs — this probe rides EVERY masked read
      // and every append), distributed fallback past the size guard
      val json: Option[String] = LogLocal.read(spark, schemaPath(dir))
        .filter { case (s, _) =>
          Seq("v", "schema_json").forall(s.fieldNames.contains) }
        .map { case (s, rows) =>
          val iV = s.fieldNames.indexOf("v")
          val iJ = s.fieldNames.indexOf("schema_json")
          rows.filter(r => !r.isNullAt(iV) && r.getLong(iV) <= version)
            .sortBy(r => -r.getLong(iV))
            .headOption.map(_.getString(iJ))
        }
        .getOrElse {
          spark.read.parquet(schemaPath(dir))
            .where(col("v") <= version)
            .orderBy(col("v").desc).select("schema_json")
            .head(1).headOption.map(_.getString(0))
        }
      json.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** The layout's current effective schema, from the schema log when one
    * exists (one tiny head(1) job) — falling back to an actual
    * manifest-routed read's inferred schema for pre-schema-log layouts.
    * Schema-only consumers (MERGE planning, DML validation) should use
    * this instead of [[readLayout]], whose frame CONSTRUCTION costs a
    * manifest collect plus a DV-log probe. */
  def schemaFor(spark: SparkSession,
      dir: String): org.apache.spark.sql.types.StructType =
    schemaAt(spark, dir, Latest).getOrElse(readLayout(spark, dir).schema)

  private def recordSchema(spark: SparkSession, dir: String, v: Long,
      s: org.apache.spark.sql.types.StructType): Unit = {
    // one (v, schema_json) row: a driver-side parquet append — the log is
    // read back by schemaAt's LogLocal path (and any plain parquet read)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("v", org.apache.spark.sql.types.LongType)
      .add("schema_json", org.apache.spark.sql.types.StringType)
    val dest = new org.apache.hadoop.fs.Path(schemaPath(dir),
      s"part-local-${java.util.UUID.randomUUID.toString.take(12)}.parquet")
    val row = org.apache.spark.sql.Row(java.lang.Long.valueOf(v), s.json)
    if (!LogLocal.writeLocal(spark, schema, Seq(row), dest)) {
      import spark.implicits._
      Seq((v, s.json)).toDF("v", "schema_json")
        .coalesce(1).write.mode("append").parquet(schemaPath(dir))
    }
  }

  /** Union-merge `delta`'s fields into `base`: shared columns must keep
    * their exact type (widening is refused loudly — silent coercion at
    * 100 TB is a data-corruption class), new columns append as nullable,
    * and columns the delta lacks become nullable (its files read NULL). */
  private[layout] def mergeSchemas(
      base: org.apache.spark.sql.types.StructType,
      delta: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val deltaMap = delta.fields.map(f => f.name -> f).toMap
    val kept = base.fields.map { bf =>
      deltaMap.get(bf.name) match {
        case Some(df) =>
          require(df.dataType == bf.dataType,
            s"schema evolution cannot change column '${bf.name}' from " +
              s"${bf.dataType.simpleString} to ${df.dataType.simpleString}")
          bf.copy(nullable = bf.nullable || df.nullable)
        case None => bf.copy(nullable = true)
      }
    }
    val baseNames = base.fieldNames.toSet
    val extra = delta.fields.filterNot(f => baseNames(f.name))
      .map(_.copy(nullable = true))
    org.apache.spark.sql.types.StructType(kept ++ extra)
  }

  /** A reader pinned to `schema` when one is recorded (absent columns read
    * NULL), a plain footer-schema reader otherwise. */
  private def readerFor(spark: SparkSession,
      schema: Option[org.apache.spark.sql.types.StructType]) =
    schema.map(spark.read.schema(_)).getOrElse(spark.read)

  // ---- deletion vectors --------------------------------------------------

  /** Name of the hidden deletion-vector log directory under a layout. */
  val DvDir = "_graft_dv"

  private def dvPath(dir: String) = s"$dir/$DvDir"

  /** The deletion-vector log: one row per SOFT-DELETED row position —
    * `(file, pos, v)` = row `pos` (the parquet `_metadata.row_index`) of
    * `file` was deleted at version `v`. APPEND-ONLY and monotone: positions
    * only ever accumulate, so the mask effective at version V is simply
    * every row with `v <= V` — no tombstones, no compaction bookkeeping.
    * None when no DV was ever written. */
  def dvLog(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dvPath(dir))
    if (!fsOf(spark, dir).exists(p)) None
    // explicit schema, not inference: a concurrent DV append creates the
    // dir before its part files commit, and schema inference over the
    // momentarily-file-less dir throws UNABLE_TO_INFER_SCHEMA at any
    // concurrent reader (the change-feed stream's poll thread hit this);
    // with the log's fixed schema that window just reads as "no rows yet".
    // NOTE on duplicates: vacuum's grace-deferred log reclaim can leave
    // superseded DV commit files lingering as exact duplicates of
    // compacted-base rows. Masking (anti joins) and membership probes are
    // dup-safe by construction and read this frame RAW — no dedupe
    // exchange on the hot path; the few EXACT-COUNT consumers go through
    // [[dvLogDeduped]] instead.
    else Some(spark.read.schema(DvSchema).parquet(dvPath(dir)))
  }

  private final val DvSchema = "file STRING, pos BIGINT, v BIGINT"

  /** [[dvLog]] with lingering exact duplicates collapsed — for the few
    * EXACT-COUNT consumers (tableStats' row subtraction, history, the
    * maintenance debt probe, clone's DV copy). One exchange over
    * churn-sized coordinates; the dup-safe masking paths skip it. */
  def dvLogDeduped(spark: SparkSession, dir: String): Option[DataFrame] =
    dvLog(spark, dir).map(_.dropDuplicates())

  /** DV rows effective at `version` (those committed at or before it). */
  private def dvAt(spark: SparkSession, dir: String,
      version: Long): Option[DataFrame] =
    dvLog(spark, dir).map(_.where(col("v") <= version))

  /** Driver-side DV rows as (canonical file, pos, v); None = log
    * missing/oversized/undecodable. Read only by [[dvFold]]. */
  private def dvRowsLocal(spark: SparkSession, dir: String,
      snapshot: Option[Seq[String]]): Option[Vector[(String, Long, Long)]] =
    LogLocal.read(spark, dvPath(dir), snapshot)
      .filter { case (s, _) =>
        Seq("file", "pos", "v").forall(s.fieldNames.contains) }
      .map { case (s, rows) =>
        val iF = s.fieldNames.indexOf("file")
        val iP = s.fieldNames.indexOf("pos")
        val iV = s.fieldNames.indexOf("v")
        rows.map(r => (canon(r.getString(iF)), r.getLong(iP), r.getLong(iV)))
      }

  /** One (canonical file, version) of the DV log: `positions` distinct
    * row positions of the file were masked at `v`. */
  private[layout] final case class DvEntry(file: String, v: Long, positions: Long)

  /** The DV log replayed per (canonical file, version). Lingering vacuum
    * duplicates collapse, so every count here is exact. */
  private[layout] final case class DvFold(entries: Vector[DvEntry]) {
    /** Highest DV version; −1 when none. */
    def maxVersion: Long = entries.iterator.map(_.v).foldLeft(-1L)(math.max)
    /** Canonical files carrying DV positions at `version`. */
    def filesAt(version: Long): Set[String] =
      entries.iterator.collect { case e if e.v <= version => e.file }.toSet
    /** Distinct masked positions on the canonical files `keep` selects. */
    def positions(keep: String => Boolean): Long =
      entries.iterator.filter(e => keep(e.file)).map(_.positions).sum
  }

  /** THE DV replay, chosen like [[manifestFold]]: driver rows below the
    * size cap, one Spark `groupBy` collected past it. `snapshot` = a
    * caller-held file list (vacuum's) instead of a listing. Empty when no
    * DV was ever written. */
  private[layout] def dvFold(spark: SparkSession, dir: String,
      snapshot: Option[Seq[String]] = None): DvFold =
    if (snapshot.exists(_.isEmpty) ||
        !fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(dvPath(dir))))
      DvFold(Vector.empty)
    else dvRowsLocal(spark, dir, snapshot) match {
      case Some(rows) => DvFold(rows.groupBy(t => (t._1, t._3)).iterator
        .map { case ((f, v), g) => DvEntry(f, v, g.map(_._2).distinct.size.toLong) }
        .toVector)
      case None =>
        val d = spark.read.schema(DvSchema)
          .parquet(snapshot.getOrElse(Seq(dvPath(dir))): _*)
        DvFold(d.groupBy(canonCol(col("file")), col("v"))
          .agg(count_distinct(col("pos"))).collect()
          .map(r => DvEntry(r.getString(0), r.getLong(1), r.getLong(2))).toVector)
    }

  /** Whether any DV position at `version` addresses a file ALIVE at that
    * version — i.e. whether a masked read is actually needed. The DV log
    * keeps rows after a purge (earlier versions still travel through
    * them), but post-purge they address only tombstoned files: a reader
    * that keys "needs masking" on mere log presence takes the slow
    * row-at-a-time path forever. O(files) driver work. */
  def dvEffectiveAt(spark: SparkSession, dir: String,
      version: Long = Latest): Boolean = {
    val dvd = dvFold(spark, dir).filesAt(version)
    dvd.nonEmpty &&
      manifestFold(spark, dir).aliveAt(dir, version).exists(e => dvd(canon(e.file)))
  }

  /** Column-level twin of [[canon]]: strip the URI scheme + slash run down
    * to a single leading `/`, so `file:///x` (metadata column), `file:/x`
    * (Hadoop listing) and `/x` all compare equal — build-side and
    * probe-side file names can then join without a UDF. */
  private def canonCol(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/+", "/")

  private val MetaFile = "_graft_meta_file"
  private val MetaPos = "_graft_meta_pos"

  /** Read `files` with canonical file-path and row-index meta columns
    * appended — the coordinates deletion vectors address rows by. */
  private def readWithMeta(spark: SparkSession, files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readerFor(spark, schema).parquet(files: _*)
      .withColumn(MetaFile, canonCol(col("_metadata.file_path")))
      .withColumn(MetaPos, col("_metadata.row_index"))

  /** Drop `df`'s rows whose (file, pos) appears in `dv` — one left-anti
    * join on the canonical coordinates. The DV side is ∝ deleted rows;
    * AQE broadcasts it when small, shuffles otherwise — either way row
    * data never reaches the driver. */
  private def applyMask(df: DataFrame, dv: DataFrame): DataFrame =
    df.join(
      dv.select(canonCol(col("file")).as("_dv_f"), col("pos").as("_dv_p")),
      col(MetaFile) === col("_dv_f") && col(MetaPos) === col("_dv_p"),
      "left_anti")

  /** Read `files` with the `version`'s deletion-vector mask applied. Files
    * carrying no DV positions read PLAIN (no meta columns, no join — the
    * common case pays nothing); DV'd files read with `_metadata.row_index`
    * and shed masked positions via one anti join. The driver holds only
    * the O(dv-files) set of DV'd file names. */
  private def readMasked(spark: SparkSession, dir: String, files: Seq[String],
      version: Long,
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None,
      dvCanonKnown: Option[Set[String]] = None)
      : DataFrame = {
    if (files.isEmpty) return emptyFrame(spark, dir)
    val sch = schemaOverride.orElse(schemaAt(spark, dir, version))
    dvAt(spark, dir, version) match {
      case None => readerFor(spark, sch).parquet(files: _*)
      case Some(d) =>
        // a caller that already probed the DV log can hand over ANY
        // superset of the version's DV'd canonical names (saving this
        // job): extra names only route clean files through the masked
        // read, whose anti join then removes nothing — same rows
        val dvCanon = dvCanonKnown.getOrElse(dvFold(spark, dir).filesAt(version))
        val (hit, clean) = files.partition(f => dvCanon(canon(f)))
        val parts = Seq(
          if (clean.isEmpty) None
          else Some(readerFor(spark, sch).parquet(clean: _*)),
          if (hit.isEmpty) None
          else {
            val df = readWithMeta(spark, hit, sch)
            val cols = df.columns.filterNot(Set(MetaFile, MetaPos))
            Some(applyMask(df, d).select(cols.map(col): _*))
          }).flatten
        if (parts.isEmpty) emptyFrame(spark, dir)
        else parts.reduce(_.unionByName(_))
    }
  }

  /** Mask an ALREADY-CONSTRUCTED file-relation frame (the Catalyst
    * [[GraftFileIndex]] read) at `version`: when the version has DV rows,
    * wrap the frame in the same coordinate anti join, projected back to
    * the data columns. Data-column predicates still push THROUGH the anti
    * join's left side into the scan, so manifest/bloom pruning is
    * unaffected. No DVs → the frame returns untouched. */
  private[layout] def maskIndexed(spark: SparkSession, dir: String,
      version: Long, df: DataFrame): DataFrame =
    dvAt(spark, dir, version) match {
      case Some(d) if dvFold(spark, dir).filesAt(version).nonEmpty =>
        val cols = df.columns
        applyMask(df
          .withColumn(MetaFile, canonCol(col("_metadata.file_path")))
          .withColumn(MetaPos, col("_metadata.row_index")), d)
          .select(cols.map(col): _*)
      case _ => df
    }

  /** Soft delete — DELETION VECTORS: mark every row matching ALL
    * `(col, lo, hi)` ranges deleted WITHOUT rewriting a single data file.
    * Only the row COORDINATES (file, `_metadata.row_index`) of matching
    * rows are appended to the DV log as a new version; envelope-hit files
    * are read once to find them, every other file is untouched, and no
    * data file is ever modified. This is the milliseconds-per-terabyte
    * delete path (Delta/Iceberg deletion vectors / position deletes);
    * the bytes remain on disk until [[purgeDeletes]] + [[vacuum]], so
    * GDPR-grade erasure must follow with those — [[deleteWhere]] is the
    * single-step physical alternative.
    *
    * Already-masked rows never re-match (the scan is mask-applied), so
    * overlapping deletes accumulate without double counting, and a
    * delete that matches nothing commits NO version.
    *
    * OCC AUTO-RETRY: a DV delete that loses the version race RE-RUNS in
    * full (bounded) rather than re-committing its rows — the winner may
    * have masked overlapping positions (which must not double-count in
    * exact row-count accounting) or rewritten the very files the
    * positions addressed (which would silently lose the delete). The
    * re-run recomputes against the winner's state, so the result is the
    * correct serialization "winner, then this delete". */
  def deleteVectors(spark: SparkSession, dir: String,
      ranges: Seq[(String, Any, Any)]): DvDeleteReport = {
    var attempt = 0
    while (true) {
      try return deleteVectorsOnce(spark, dir, ranges)
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > OccMaxRetries) throw e
          retryBackoff(attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def deleteVectorsOnce(spark: SparkSession, dir: String,
      ranges: Seq[(String, Any, Any)]): DvDeleteReport = {
    require(ranges.nonEmpty, "deleteVectors needs at least one (col, lo, hi) range")
    val aliveDf = aliveManifest(spark, dir)
    requireStats(aliveDf, ranges)
    val hit = aliveDf.where(envelopeCond(aliveDf.columns.toSet, ranges))
      .select("file")
      .collect().map(_.getString(0)).toSeq.sorted // O(files): paths only
    if (hit.isEmpty) return DvDeleteReport(0, 0L)
    val v = currentVersion(spark, dir) + 1
    // masked read: rows already soft-deleted must not re-delete
    val dvPrev = dvAt(spark, dir, Latest)
    val base = readWithMeta(spark, hit, schemaAt(spark, dir, Latest))
    val masked = dvPrev.map(applyMask(base, _)).getOrElse(base)
    // pin before counting AND writing — the two must agree on one evaluation
    val fresh = masked.where(rowCond(ranges))
      .select(col(MetaFile).as("file"), col(MetaPos).as("pos"), lit(v).as("v"))
      .localCheckpoint(true)
    // one agg action for both report numbers (was a count + a distinct
    // count — two jobs over the same checkpointed coordinates)
    val st = fresh.agg(count(lit(1)), count_distinct(col("file"))).head()
    val n = st.getLong(0)
    if (n == 0L) return DvDeleteReport(0, 0L)
    val filesTouched = st.getLong(1).toInt
    // one part file = one rename = the DV version appears atomically to
    // concurrent readers (see appendLog); DV deltas are churn-sized
    commitLogFile(dvPath(dir), fresh, v)
    DvDeleteReport(filesTouched, n)
  }

  /** `filesScanned`: files whose rows the predicate pass actually read
    * (envelope-pruned for range-shaped predicates; -1 = the ranges-based
    * path, which prunes by construction and never recorded it). */
  final case class DvDeleteReport(filesTouched: Int, rowsDeleted: Long,
      filesScanned: Int = -1)

  /** [[deleteVectors]] for an ARBITRARY predicate — the SQL `DELETE FROM`
    * path. A general predicate has no range shape to envelope-prune with,
    * so every alive file is read ONCE with the predicate pushed into the
    * scan (parquet row-group stats still skip); only matching rows'
    * coordinates land in the DV log — no data file is rewritten. NULL
    * predicate rows survive (DELETE removes rows where the condition is
    * TRUE, never UNKNOWN). Same OCC re-run discipline as the range form. */
  def deleteVectorsWhere(spark: SparkSession, dir: String,
      cond: Column): DvDeleteReport = {
    var attempt = 0
    while (true) {
      try return deleteVectorsWhereOnce(spark, dir, cond)
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > OccMaxRetries) throw e
          retryBackoff(attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def deleteVectorsWhereOnce(spark: SparkSession, dir: String,
      cond: Column): DvDeleteReport = {
    val aliveDf = aliveManifest(spark, dir)
    val alive = aliveDf.select("file")
      .collect().map(_.getString(0)).toIndexedSeq.sorted // O(files)
    if (alive.isEmpty) return DvDeleteReport(0, 0L, filesScanned = 0)
    val candidates = dmlCandidates(spark, dir, aliveDf, alive, cond)
    if (candidates.isEmpty) return DvDeleteReport(0, 0L, filesScanned = 0)
    val v = currentVersion(spark, dir) + 1
    val dvPrev = dvAt(spark, dir, Latest)
    val base = readWithMeta(spark, candidates, schemaAt(spark, dir, Latest))
    val masked = dvPrev.map(applyMask(base, _)).getOrElse(base)
    val fresh = masked.where(cond)
      .select(col(MetaFile).as("file"), col(MetaPos).as("pos"), lit(v).as("v"))
      .localCheckpoint(true)
    val st = fresh.agg(count(lit(1)), count_distinct(col("file"))).head()
    val n = st.getLong(0)
    if (n == 0L) return DvDeleteReport(0, 0L, filesScanned = candidates.size)
    val filesTouched = st.getLong(1).toInt
    commitLogFile(dvPath(dir), fresh, v)
    DvDeleteReport(filesTouched, n, filesScanned = candidates.size)
  }

  /** Physically apply outstanding deletion vectors: rewrite ONLY the alive
    * files carrying DV positions (masked read, re-clustered, one output
    * file per rewritten input) and tombstone the originals as a new
    * version. The DV log keeps its rows — earlier versions still need them
    * to time-travel correctly — but the latest version's files are
    * DV-free; the soft-deleted bytes leave disk at the next [[vacuum]].
    * DV delete → purge → vacuum is the GDPR-complete spelling, exactly
    * Delta's DELETE → REORG APPLY (PURGE) → VACUUM. */
  def purgeDeletes(spark: SparkSession, dir: String, dims: Seq[Column],
      bits: Int, statsCols: Seq[String]): PurgeReport = {
    val aliveDf = aliveManifest(spark, dir)
    val dv = dvFold(spark, dir)
    val dvCanon = dv.filesAt(Latest)
    val hit = aliveDf.select("file").collect().map(_.getString(0))
      .filter(f => dvCanon(canon(f))).toSeq.sorted
    if (hit.isEmpty) return PurgeReport(0, 0L)
    val v = currentVersion(spark, dir) + 1
    val data = readMasked(spark, dir, hit, Latest,
      dvCanonKnown = Some(dvCanon))
    val fresh = stageRename(spark, dir, s"$dir/_graft_purge_${java.util.UUID.randomUUID.toString.take(8)}_stage",
      s"purge_v$v", data, hit.size, dims, bits, statsCols)
    def rowsAt(ver: Long): DataFrame = {
      val tomb = tombstones(aliveDf, hit, ver)
      fresh.at(spark, ver)
        .map(_.unionByName(tomb, allowMissingColumns = true)).getOrElse(tomb)
    }
    commitRewriteWithRetry(spark, dir, hit, v - 1, rowsAt, v)
    val hitCanon = hit.map(canon).toSet
    PurgeReport(filesRewritten = hit.size,
      positionsApplied = dv.positions(hitCanon))
  }

  final case class PurgeReport(filesRewritten: Int, positionsApplied: Long)

  // ---- reads -------------------------------------------------------------

  /** Empty-but-typed frame for a layout with no alive files at a version:
    * schema comes from any data file still on disk (retired ones count —
    * they share the schema). A fully-vacuumed empty layout has NO schema
    * source left, and gets a loud refusal instead of a cryptic
    * unable-to-infer AnalysisException. */
  /** ONE data file to infer the layout's schema from: a file physically
    * under the dir when any exists, else a manifest-referenced file — a
    * freshly [[cloneLayout]]'d layout owns no physical files at all, every
    * byte still lives under its source. */
  private[layout] def schemaAnchorFile(spark: SparkSession, dir: String): String =
    listDataFiles(spark, dir).headOption
      .orElse {
        if (!fsOf(spark, dir).exists(
          new org.apache.hadoop.fs.Path(manifestPath(dir)))) None
        else {
          // existence-checked: the log may still carry rows for files a
          // vacuum already deleted (grace-deferred log reclaim keeps the
          // superseded commit files — and their tombstone rows — visible
          // for up to the grace window)
          val fs = fsOf(spark, dir)
          manifestFold(spark, dir).entries
            .collect { case e if !e.sentinel && e.added.isDefined => e.file }
            .sorted.find(f => fs.exists(new org.apache.hadoop.fs.Path(f)))
        }
      }
      .getOrElse(throw new IllegalArgumentException(
        s"layout at $dir has no live or retired data files left to infer a " +
          "schema from (fully erased + vacuumed); nothing to read"))

  private def emptyFrame(spark: SparkSession, dir: String): DataFrame =
    schemaAt(spark, dir, Latest) match {
      case Some(s) => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), s)
      case None =>
        spark.read.parquet(schemaAnchorFile(spark, dir)).where(lit(false))
    }

  /** The layout's rows at `version` (default: latest) — manifest-routed,
    * so retired files are invisible, and deletion-vector-masked, so
    * soft-deleted rows are too (each at the version's own mask). */
  def readLayout(spark: SparkSession, dir: String,
      version: Long = Latest): DataFrame = {
    val files = aliveManifest(spark, dir, version).select("file")
      .collect().map(_.getString(0)) // O(files): paths only
    readMasked(spark, dir, files.toIndexedSeq, version)
  }

  /** A manifest-pruned scan: the surviving data plus its pruning stats. */
  final case class PrunedScan(df: DataFrame, filesRead: Int, filesTotal: Int)

  /** Scan the layout at `version` reading only files whose `[min, max]`
    * envelope intersects every `(column, lo, hi)` interval in `ranges`,
    * then apply the same intervals as a row filter (file envelopes admit
    * non-matching rows).
    *
    * The manifest collect is O(files) driver memory — file paths and stats
    * only, the bound every manifest-backed format accepts. Row data never
    * reaches the driver, and the row-level filter still pushes down into
    * the parquet scan of the surviving files.
    */
  def skipScan(spark: SparkSession, dir: String,
      ranges: Seq[(String, Any, Any)], version: Long = Latest): PrunedScan = {
    require(ranges.nonEmpty, "skipScan needs at least one (col, lo, hi) range")
    val alive = aliveManifest(spark, dir, version)
    requireStats(alive, ranges)
    // jobless: the alive manifest is a LocalRelation (project+collect
    // constant-folds)
    val total = alive.select("file").collect().length
    val files = alive.where(envelopeCond(alive.columns.toSet, ranges))
      .select("file")
      .collect().map(_.getString(0)) // O(files): paths only, never rows
    val df = readMasked(spark, dir, files.toIndexedSeq, version)
      .where(rowCond(ranges))
    PrunedScan(df, files.length, total)
  }

  /** TABLE HISTORY (Delta's DESCRIBE HISTORY, derived not stored): one row
    * per version with what it did — files/rows added and removed from the
    * manifest log, positions soft-deleted from the DV log, and the commit
    * file's mtime where one exists (versions committed before the
    * rename-commit protocol, version 0's initial write, and logs rewritten
    * by vacuum read NULL). O(files + dv-rows) log aggregation, never a
    * data scan. The shape implies the operation: only-added = append;
    * added+removed = rewrite (compact/merge/delete/recluster/purge);
    * dv-only = soft delete. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // dropDuplicates: vacuum's grace-deferred log reclaim leaves superseded
    // commit files lingering as exact duplicates of base rows — counts here
    // must not double
    val log = manifestLog(spark, dir)
      .where(!isSentinelFile(col("file")))
      .dropDuplicates()
    val added = log.where(col("v_added").isNotNull)
      .groupBy(col("v_added").as("version"))
      .agg(count(lit(1)).as("files_added"), sum("n_rows").as("rows_added"))
    val removed = log.where(col("v_removed").isNotNull)
      .groupBy(col("v_removed").as("version"))
      .agg(count(lit(1)).as("files_removed"), sum("n_rows").as("rows_removed"))
    val dv = dvLogDeduped(spark, dir).map(
      _.groupBy(col("v").as("version"))
        .agg(count(lit(1)).as("dv_rows_deleted")))
      .getOrElse(Seq.empty[(Long, Long)].toDF("version", "dv_rows_deleted"))
    // commit-file mtimes: O(versions) driver-side names-and-stats listing
    val fs = fsOf(spark, dir)
    val mtimes: Seq[(Long, java.sql.Timestamp)] =
      Seq(manifestPath(dir), dvPath(dir)).flatMap { ld =>
        LogLocal.logFiles(fs, new org.apache.hadoop.fs.Path(ld)).getOrElse(Nil)
          .filter(_.getPath.getName.startsWith("commit-v")).flatMap { s =>
            s.getPath.getName.stripPrefix("commit-v").stripSuffix(".parquet")
              .toLongOption.map(_ -> new java.sql.Timestamp(s.getModificationTime))
          }
      }
    val ts = mtimes.toDF("version", "committed_at")
    // provenance: which transaction app/batch wrote a version (NULL for
    // non-txn commits and for rewrites). From data-file rows only —
    // vacuum's ledger carry-over sentinels pin to the vacuum-time hwm,
    // which would misattribute
    val txn =
      if (!log.columns.contains("txn_app"))
        Seq.empty[(Long, String, Long)].toDF("version", "txn_app", "txn_batch")
      else log.where(col("txn_app").isNotNull && col("v_added").isNotNull)
        .groupBy(col("v_added").as("version"))
        .agg(first("txn_app").as("txn_app"), max("txn_batch").as("txn_batch"))
    def z(c: String) = coalesce(col(c), lit(0L)).as(c)
    added.join(removed, Seq("version"), "full_outer")
      .join(dv, Seq("version"), "full_outer")
      .join(ts, Seq("version"), "left_outer")
      .join(txn, Seq("version"), "left_outer")
      .select(col("version"), z("files_added"), z("rows_added"),
        z("files_removed"), z("rows_removed"), z("dv_rows_deleted"),
        col("committed_at"), col("txn_app"), col("txn_batch"))
      .orderBy("version")
  }

  /** DYNAMIC FILE PRUNING: the rows of the layout whose `keyCol` appears
    * in `keys` — but decided FILE-FIRST through the manifest, the
    * read-side twin of [[mergeInto]]'s envelope targeting. The O(files)
    * stats rows broadcast against the (distributed, arbitrary-size) key
    * frame decide which files can possibly hold a requested key; only
    * those are read, then one semi-join drops the envelope's false
    * positives. Keys never collect to the driver and the data scan never
    * touches a file no key can live in.
    *
    * This is what "join a 100 TB fact layout to a filtered dimension"
    * should cost: on a table clustered by `keyCol`, a dimension subset
    * that maps to k files reads k files — Spark's own dynamic partition
    * pruning can't help here (the layout is one unpartitioned dir), so
    * the manifest supplies the pruning instead. Degenerate case (keys
    * everywhere) reads everything, same as any DFP.
    */
  def semiJoinScan(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, version: Long = Latest): PrunedScan = {
    require(keys.columns.contains(keyCol),
      s"key frame has no column '$keyCol' (${keys.columns.mkString(",")})")
    val alive = aliveManifest(spark, dir, version)
    requireStats(alive, Seq((keyCol, null, null)))
    val total = alive.select("file").collect().length
    val k = keys.select(col(keyCol).as("_k")).distinct()
    // files whose key stats were never recorded (statsCols drift) can hold
    // ANY key — they join every probe unconditionally, never get skipped
    val unrec = alive.where(statsUnrecorded(alive.columns.toSet, keyCol))
      .select("file")
    val hit = broadcast(alive.select(col("file"),
        col(s"min_$keyCol").as("_lo"), col(s"max_$keyCol").as("_hi")))
      .join(k, col("_k") >= col("_lo") && col("_k") <= col("_hi"))
      .select("file").unionByName(unrec).distinct()
      .collect().map(_.getString(0)).toIndexedSeq.sorted // O(files): paths only
    val df = readMasked(spark, dir, hit, version)
      .join(k.select(col("_k").as(keyCol)), Seq(keyCol), "left_semi")
    PrunedScan(df, hit.length, total)
  }

  /** The three range-predicate builders skipScan and deleteWhere share —
    * one definition, so scan and delete can never diverge on which files
    * an interval hits. */
  private def requireStats(manifest: DataFrame, ranges: Seq[(String, Any, Any)]): Unit =
    ranges.foreach { case (c, _, _) =>
      require(manifest.columns.contains(s"min_$c"),
        s"manifest has no stats for column '$c' — was it in statsCols at write?")
    }

  /** TRUE when this file's stats for `c` were never RECORDED — min AND
    * null count both NULL, the state a manifest row lands in when it
    * predates `c` joining statsCols (recluster with different statsCols,
    * an append passing a different set — both documented as allowed, the
    * log merges). Distinct from an all-NULL column, which records
    * min = NULL but nulls_ = n_rows. Unrecorded must read as "may match":
    * treating it as "cannot match" silently drops the file from every
    * envelope hit set — skipScan returns partial rows, deleteWhere leaves
    * matches alive, mergeInto duplicates keys. A pre-extension log with
    * no nulls_ column at all cannot tell the two states apart and keeps
    * the file (extra I/O, never a wrong answer). */
  private def statsUnrecorded(manifestCols: Set[String], c: String): Column =
    if (manifestCols(s"nulls_$c")) col(s"min_$c").isNull && col(s"nulls_$c").isNull
    else col(s"min_$c").isNull

  /** File-envelope intersection: [min_c, max_c] meets [lo, hi] for EVERY
    * range. A file whose stats are RECORDED as all-NULL never matches
    * (NULL never satisfies a range predicate — the test evaluates NULL and
    * coalesces to false); a file whose stats were never recorded always
    * may. */
  private def envelopeCond(manifestCols: Set[String],
      ranges: Seq[(String, Any, Any)]): Column =
    ranges.map { case (c, lo, hi) =>
      coalesce(col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi),
        lit(false)) || statsUnrecorded(manifestCols, c)
    }.reduce(_ && _)

  /** The row-level form of the same intervals. */
  private def rowCond(ranges: Seq[(String, Any, Any)]): Column =
    ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)

  /** Conservative FILE-ENVELOPE prefilter derived from an arbitrary row
    * predicate — the bridge between the Column-shaped DML surface
    * ([[updateWhere]], [[deleteVectorsWhere]], SQL UPDATE/DELETE) and the
    * manifest min/max skipping the range-shaped surface already enjoys.
    * A row satisfying `cond` satisfies every conjunct of its top-level
    * conjunction, so each conjunct of a recognizable shape
    * (`k = v`, `k <>=<= v`, `k BETWEEN a AND b` — parsed as two bounds —
    * `k IN (…)`, `k IS NULL`, literal on either side) contributes one
    * necessary envelope test; a file failing ANY contributed test cannot
    * hold a matching row. Unrecognized conjuncts contribute nothing
    * (never wrong, only less pruning); None when NO conjunct contributed
    * — the caller falls back to the full coordinate scan, the pre-r18
    * behavior. Columns without manifest stats contribute nothing;
    * unrecorded per-file stats read as "may match" via
    * [[statsUnrecorded]], identically to skipScan. */
  /** A predicate Column's top-level conjuncts, NORMALIZED into the
    * catalyst comparison family. The Column DSL reaches us as
    * UnresolvedFunction("and"/"="/"between"/…) nodes (Spark 4's
    * ColumnNode conversion routes operators through function names);
    * SQL-parsed predicates as the catalyst classes — one normalization
    * serves every consumer (the envelope prefilter, the bloom-equality
    * extractor). */
  private def predicateConjuncts(cond: Column)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    def norm(e: ce.Expression): ce.Expression = e match {
      case f: UnresolvedFunction if f.nameParts.length == 1 && !f.isDistinct =>
        val a = f.arguments.map(norm)
        (f.nameParts.head.toLowerCase, a) match {
          case ("and", Seq(l, r)) => ce.And(l, r)
          case ("=" | "==", Seq(l, r)) => ce.EqualTo(l, r)
          case ("<=>", Seq(l, r)) => ce.EqualNullSafe(l, r)
          case (">", Seq(l, r)) => ce.GreaterThan(l, r)
          case (">=", Seq(l, r)) => ce.GreaterThanOrEqual(l, r)
          case ("<", Seq(l, r)) => ce.LessThan(l, r)
          case ("<=", Seq(l, r)) => ce.LessThanOrEqual(l, r)
          case ("between", Seq(v, lo, hi)) =>
            ce.And(ce.GreaterThanOrEqual(v, lo), ce.LessThanOrEqual(v, hi))
          case ("in", v +: vs) if vs.nonEmpty => ce.In(v, vs)
          case ("isnull", Seq(v)) => ce.IsNull(v)
          case _ => e
        }
      case b: ce.Between => // the parser's runtime-replaceable BETWEEN
        ce.And(ce.GreaterThanOrEqual(norm(b.input), norm(b.lower)),
          ce.LessThanOrEqual(norm(b.input), norm(b.upper)))
      case _ => e
    }
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = norm(e) match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    conjuncts(org.apache.spark.sql.graftshim.StreamingFrameShim
      .expressionOf(cond))
  }

  /** Bare column name of an attribute expression, qualifier-stripped. */
  private def predicateAttr(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[String] = e match {
    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      Some(a.nameParts.last)
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      Some(a.name)
    case _ => None
  }

  /** The EQUALITY/IN conjuncts of a predicate as (column, scala literal
    * keys) — the bloom-probeable subset of a DML condition. */
  private[graft] def equalityConjuncts(cond: Column): Seq[(String, Seq[Any])] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    def one(a: ce.Expression, l: ce.Expression): Option[(String, Seq[Any])] =
      (predicateAttr(a), l) match {
        case (Some(k), lit: ce.Literal) if lit.value != null =>
          Some(k -> Seq(convertToScala(lit.value, lit.dataType)))
        case _ => None
      }
    predicateConjuncts(cond).flatMap {
      case ce.EqualTo(a, l) => one(a, l).orElse(one(l, a))
      case ce.EqualNullSafe(a, l) => one(a, l).orElse(one(l, a))
      case ce.In(a, vs) if vs.nonEmpty &&
          vs.forall { case lit: ce.Literal => lit.value != null; case _ => false } =>
        predicateAttr(a).map(k => k -> vs.map { case lit: ce.Literal =>
          convertToScala(lit.value, lit.dataType) })
      case _ => None
    }
  }

  /** CANDIDATE files for a Column-predicate mutation's pass 1 — the
    * shared prefilter of [[updateWhere]] and [[deleteVectorsWhere]]:
    * manifest min/max envelopes prune range-shaped conjuncts
    * ([[envelopePrefilter]]), and equality/IN conjuncts on
    * bloom-indexed columns intersect with the index's admitted files
    * (the point-DELETE-on-an-unclustered-column case envelopes cannot
    * touch). Both are conservative supersets; an unrecognizable
    * predicate keeps the full scan. O(files) driver work throughout. */
  private def dmlCandidates(spark: SparkSession, dir: String,
      aliveDf: DataFrame, all: IndexedSeq[String],
      cond: Column): IndexedSeq[String] = {
    val enveloped = envelopePrefilter(aliveDf.columns.toSet, cond) match {
      case Some(test) => aliveDf.where(test).select("file")
        .collect().map(_.getString(0)).toIndexedSeq.sorted // O(files)
      case None => all
    }
    val indexed = bloomIndexedColumns(spark, dir).map(_._1).toSet
    val eqs = equalityConjuncts(cond).filter(e => indexed(e._1))
    if (eqs.isEmpty || enveloped.isEmpty) enveloped
    else eqs.foldLeft(enveloped) { case (cands, (c, ks)) =>
      bloomKeptFiles(spark, dir, c, ks) match {
        case Some((kept, _, _)) =>
          val keep = kept.toSet
          cands.filter(keep)
        case None => cands // crash-residue index: prune nothing
      }
    }
  }

  private[graft] def envelopePrefilter(manifestCols: Set[String],
      cond: Column): Option[Column] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def attr(e: ce.Expression): Option[String] = predicateAttr(e)
    // literal → Column via its SQL rendering (type-faithful: dates render
    // as DATE '…', strings quoted), so the manifest-side comparison
    // resolves with Spark's own coercion rules
    def litc(e: ce.Expression): Option[Column] = e match {
      case l: ce.Literal if l.value != null => Some(expr(l.sql))
      case _ => None
    }
    def guarded(k: String, test: Column): Option[Column] =
      if (!manifestCols(s"min_$k")) None
      else Some(coalesce(test, lit(false)) || statsUnrecorded(manifestCols, k))
    def nullsTest(k: String): Option[Column] =
      if (!manifestCols(s"nulls_$k")) None
      else Some(coalesce(col(s"nulls_$k") > 0, lit(true)) ||
        statsUnrecorded(manifestCols, k))
    // (column name, literal, flipped) from a comparison's two sides —
    // `flipped` marks the literal-first spelling (`5 > k` ≡ `k < 5`)
    def sides(x: ce.Expression, y: ce.Expression)
        : Option[(String, Column, Boolean)] =
      (attr(x), litc(y)) match {
        case (Some(k), Some(v)) => Some((k, v, false))
        case _ => (attr(y), litc(x)) match {
          case (Some(k), Some(v)) => Some((k, v, true))
          case _ => None
        }
      }
    def bound(e: ce.Expression): Option[Column] = e match {
      case ce.EqualTo(x, y) => sides(x, y).flatMap { case (k, v, _) =>
        guarded(k, col(s"min_$k") <= v && col(s"max_$k") >= v)
      }
      case ce.EqualNullSafe(a, ce.Literal(null, _)) =>
        attr(a).flatMap(nullsTest)
      case ce.EqualNullSafe(ce.Literal(null, _), a) =>
        attr(a).flatMap(nullsTest)
      case ce.EqualNullSafe(x, y) => bound(ce.EqualTo(x, y))
      case ce.GreaterThan(x, y) => sides(x, y).flatMap {
        case (k, v, false) => guarded(k, col(s"max_$k") > v)
        case (k, v, true) => guarded(k, col(s"min_$k") < v)
      }
      case ce.GreaterThanOrEqual(x, y) => sides(x, y).flatMap {
        case (k, v, false) => guarded(k, col(s"max_$k") >= v)
        case (k, v, true) => guarded(k, col(s"min_$k") <= v)
      }
      case ce.LessThan(x, y) => sides(x, y).flatMap {
        case (k, v, false) => guarded(k, col(s"min_$k") < v)
        case (k, v, true) => guarded(k, col(s"max_$k") > v)
      }
      case ce.LessThanOrEqual(x, y) => sides(x, y).flatMap {
        case (k, v, false) => guarded(k, col(s"min_$k") <= v)
        case (k, v, true) => guarded(k, col(s"max_$k") >= v)
      }
      case ce.IsNull(a) => attr(a).flatMap(nullsTest)
      case ce.In(a, vs) if vs.nonEmpty => for {
        k <- attr(a)
        cols <- Some(vs.flatMap(litc)) if cols.size == vs.size
        t <- guarded(k,
          col(s"max_$k") >= (if (cols.size == 1) cols.head else least(cols: _*)) &&
            col(s"min_$k") <= (if (cols.size == 1) cols.head else greatest(cols: _*)))
      } yield t
      case _ => None
    }
    val tests = predicateConjuncts(cond).flatMap(bound(_).toSeq)
    if (tests.isEmpty) None else Some(tests.reduce(_ && _))
  }

  // ---- maintenance -------------------------------------------------------

  /** Compact ONLY the z-overlapping file clusters of the latest version
    * (connected components of the interval-overlap graph over the alive
    * manifest's [zmin, zmax] ranges — O(files log files) driver work on
    * stats rows, never row data). Singleton clusters are untouched; each
    * multi-file cluster is re-clustered into ⌈rows/rowsPerFile⌉ files by
    * one range exchange over JUST that cluster's rows. Old files are
    * TOMBSTONED, not deleted — prior versions stay readable until
    * [[vacuum]]. After appends, this rewrites the few clusters a delta
    * touched and nothing else — incremental-OPTIMIZE cost ∝ overlap, not
    * table size.
    *
    * `onlyFilesUnder` (default: everything) restricts the sweep to files
    * BELOW that row count — the steady-state lever for continuous ingest:
    * without it, once merged output files mutually overlap, every later
    * pass re-clusters the WHOLE table (write amplification ∝ table size
    * per pass — the probe measured exactly this). With it (the
    * [[Maintenance]] policy passes its `rowsPerFile`), already-full files
    * are exempt, small deltas merge among themselves, and per-pass rewrite
    * work is ∝ churn since the last pass. Residual overlap between FULL
    * files is tolerated — it costs pruning precision on their z-range,
    * never correctness — the same trade Delta's OPTIMIZE makes by binning
    * only sub-minFileSize files. */
  def compactZOrdered(spark: SparkSession, dir: String, dims: Seq[Column],
      bits: Int, statsCols: Seq[String], rowsPerFile: Long,
      onlyFilesUnder: Long = Long.MaxValue): CompactReport = {
    require(rowsPerFile >= 1, s"rowsPerFile must be >= 1: $rowsPerFile")
    val aliveDf = aliveManifest(spark, dir)
    val allAlive = aliveDf
      .select("file", "zmin", "zmax", "n_rows")
      .collect()
    // files whose every z-dim is NULL have NULL z-stats: no interval, no
    // overlap — leave them untouched rather than NPE on getLong
    val alive = allAlive.filterNot(r => r.isNullAt(1) || r.isNullAt(2))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._4 < onlyFilesUnder)
      .sortBy(t => (t._2, t._3, t._1)) // deterministic sweep order
    // interval sweep: files sorted by zmin; a file overlaps the running
    // cluster iff its zmin <= the running cluster's max zmax (kept as a
    // single var — the sweep stays O(files log files), not O(files^2))
    val clusters = scala.collection.mutable.ArrayBuffer.empty[Vector[(String, Long, Long, Long)]]
    var clusterMaxZ = Long.MinValue
    for (f <- alive) {
      if (clusters.nonEmpty && f._2 <= clusterMaxZ) {
        clusters(clusters.size - 1) = clusters.last :+ f
        clusterMaxZ = math.max(clusterMaxZ, f._3)
      } else {
        clusters += Vector(f)
        clusterMaxZ = f._3
      }
    }
    val (toRewrite, _) = clusters.toVector.partition(_.size > 1)
    if (toRewrite.isEmpty)
      return CompactReport(0, 0, allAlive.length)
    val v = currentVersion(spark, dir) + 1
    // clusters are clustered INDEPENDENTLY (each gets its own range
    // exchange with boundaries sampled inside the cluster — a single
    // global range write was measured and rejected: a sampled boundary
    // spanning the z-GAP between clusters widens that file's envelope
    // over key space where non-cluster files sit, manufacturing fresh
    // overlap debt each pass) but LAND in one write action per batch:
    // the partition-preserving union keeps each cluster's partitions as
    // its own output files (a logical Union does NOT — the optimizer
    // merged two single-partition children into one gap-spanning file),
    // so N clusters cost one job's scheduling instead of N, with output
    // envelopes still exactly inside their cluster's range. Batches of
    // 32 bound the plan size.
    val rewrittenFiles = toRewrite.map(_.size).sum
    var fresh = NoFresh
    for ((batch, gen) <- toRewrite.grouped(32).zipWithIndex) {
      val clustered = org.apache.spark.sql.graftshim.StreamingFrameShim
        .unionPreservingPartitions(batch.map { cluster =>
        val rows = cluster.map(_._4).sum
        // FLOOR, not ceil: outputs must land AT OR ABOVE rowsPerFile (one
        // residual up to 2x-1), or merged files stay "small", re-enter every
        // later sweep, and steady-state compaction degrades to whole-table
        // rewrites (the ingest probe measured exactly this failure shape)
        val nOut = math.max(1L, rows / rowsPerFile).toInt
        // masked read: a rewrite permanently applies any outstanding DVs on
        // the cluster's files (n_rows-based sizing may overcount slightly
        // until then — freshStats recounts what was actually written)
        zCluster(readMasked(spark, dir, cluster.map(_._1), Latest),
          nOut, dims, bits)
      }.toSeq)
      fresh = fresh ++ stageRenamePreclustered(spark, dir,
        s"$dir/_graft_compact_${java.util.UUID.randomUUID.toString.take(8)}_stage",
        s"compact_v${v}_${gen}", clustered, dims, bits, statsCols)
    }
    val retired = toRewrite.flatten.map(_._1)
    def rowsAt(ver: Long): DataFrame = {
      val tomb = tombstones(aliveDf, retired, ver)
      fresh.at(spark, ver)
        .map(_.unionByName(tomb, allowMissingColumns = true)).getOrElse(tomb)
    }
    commitRewriteWithRetry(spark, dir, retired, v - 1, rowsAt, v)
    CompactReport(clustersRewritten = toRewrite.size,
      filesRewritten = rewrittenFiles,
      filesTotalAfter = allAlive.length - retired.size + fresh.size)
  }

  final case class CompactReport(clustersRewritten: Int, filesRewritten: Int,
      filesTotalAfter: Int)

  /** Bin-pack ADJACENT small files — the debt [[compactZOrdered]] cannot
    * touch. Overlap compaction only merges files whose z-intervals
    * intersect, so a monotonic ingest pattern (event time, monotonically
    * growing keys — every micro-batch of the streaming sink lands strictly
    * above the last) accretes small DISJOINT files forever. This pass
    * sweeps the alive manifest in zmin order and greedily bins
    * consecutive files of fewer than `rowsPerFile` rows until a bin
    * reaches `rowsPerFile` (a large file closes the running bin: packing
    * across it would interleave z-ranges it already covers); each bin of
    * two or more files is rewritten — globally sorted data stays sorted,
    * so the range exchange is bin-local and cheap. Decisions are O(files)
    * driver work on stats rows; only bin member rows are read. Old files
    * tombstone as usual (time travel intact until [[vacuum]]). */
  def compactSmallFiles(spark: SparkSession, dir: String, dims: Seq[Column],
      bits: Int, statsCols: Seq[String], rowsPerFile: Long): CompactReport = {
    require(rowsPerFile >= 1, s"rowsPerFile must be >= 1: $rowsPerFile")
    val aliveDf = aliveManifest(spark, dir)
    val allAlive = aliveDf.select("file", "zmin", "zmax", "n_rows").collect()
    // all-NULL-dim files have no z position: skip, as compactZOrdered does
    val alive = allAlive.filterNot(r => r.isNullAt(1) || r.isNullAt(2))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._2, t._3, t._1))
    val bins = scala.collection.mutable.ArrayBuffer.empty[Vector[(String, Long, Long, Long)]]
    var bin = Vector.empty[(String, Long, Long, Long)]
    var binRows = 0L
    def close(): Unit = { if (bin.size > 1) bins += bin; bin = Vector.empty; binRows = 0L }
    for (f <- alive) {
      if (f._4 >= rowsPerFile) close() // a full file is a packing fence
      else {
        bin :+= f; binRows += f._4
        if (binRows >= rowsPerFile) close()
      }
    }
    close()
    if (bins.isEmpty)
      return CompactReport(0, 0, allAlive.length)
    val v = currentVersion(spark, dir) + 1
    // bins cluster independently (a fused GLOBAL range write can span bin
    // gaps and manufacture overlap debt against in-gap files — same
    // reasoning as compactZOrdered) but land in one write action per
    // batch of 32: the partition-preserving union keeps each bin's
    // partitions as its own output files (a logical Union does not)
    val rewrittenFiles = bins.map(_.size).sum
    var fresh = NoFresh
    for ((batch, gen) <- bins.grouped(32).zipWithIndex) {
      val clustered = org.apache.spark.sql.graftshim.StreamingFrameShim
        .unionPreservingPartitions(batch.map { b =>
        val rows = b.map(_._4).sum
        // FLOOR, not ceil: outputs must land AT OR ABOVE rowsPerFile (one
        // residual up to 2x-1), or merged files stay "small", re-enter every
        // later sweep, and steady-state compaction degrades to whole-table
        // rewrites (the ingest probe measured exactly this failure shape)
        val nOut = math.max(1L, rows / rowsPerFile).toInt
        zCluster(readMasked(spark, dir, b.map(_._1), Latest), nOut, dims, bits)
      }.toSeq)
      fresh = fresh ++ stageRenamePreclustered(spark, dir,
        s"$dir/_graft_binpack_${java.util.UUID.randomUUID.toString.take(8)}_stage",
        s"binpack_v${v}_${gen}", clustered, dims, bits, statsCols)
    }
    val retired = bins.flatten.map(_._1).toSeq
    def rowsAt(ver: Long): DataFrame = {
      val tomb = tombstones(aliveDf, retired, ver)
      fresh.at(spark, ver)
        .map(_.unionByName(tomb, allowMissingColumns = true)).getOrElse(tomb)
    }
    commitRewriteWithRetry(spark, dir, retired, v - 1, rowsAt, v)
    CompactReport(clustersRewritten = bins.size,
      filesRewritten = rewrittenFiles,
      filesTotalAfter = allAlive.length - retired.size + fresh.size)
  }

  /** Targeted delete — the right-to-be-forgotten operator: remove every
    * row matching ALL `(col, lo, hi)` ranges, rewriting ONLY the files
    * whose min/max envelope intersects the predicate. On a layout
    * clustered by the deletion key (user id, tenant, …) that is a handful
    * of files out of a 100 TB table; every other file is untouched. The
    * hit files are TOMBSTONED (prior versions stay readable until
    * [[vacuum]] — GDPR erasure therefore needs `deleteWhere` + `vacuum`,
    * exactly like Delta's delete + VACUUM). */
  def deleteWhere(spark: SparkSession, dir: String, dims: Seq[Column],
      bits: Int, statsCols: Seq[String],
      ranges: Seq[(String, Any, Any)]): DeleteReport = {
    require(ranges.nonEmpty, "deleteWhere needs at least one (col, lo, hi) range")
    val aliveDf = aliveManifest(spark, dir)
    requireStats(aliveDf, ranges)
    val aliveFiles = aliveDf.select("file").collect() // jobless when local
    val aliveCount = aliveFiles.length
    val hitRaw = aliveDf.where(envelopeCond(aliveDf.columns.toSet, ranges))
      .select("file")
      .collect().map(_.getString(0)).toSeq // O(files): paths only
    if (hitRaw.isEmpty) return DeleteReport(0, 0L, aliveCount)
    val rowPred = rowCond(ranges)
    // masked: already-soft-deleted rows neither count as deleted here nor
    // survive into the rewrite (the rewrite purges their DVs for good)
    val hitData = readMasked(spark, dir, hitRaw, Latest)
    // the deleted-row count rides the rewrite itself as an observed metric
    // (one scan writes the survivors AND counts the casualties — was a
    // separate full pass over the hit files). The metric sits ABOVE
    // zCluster's range exchange: below it, the range boundary-sampling job
    // executes the scan a second time (doubling the count), and an
    // all-rows-deleted write leaves the exchange's output empty, letting
    // AQE's empty-relation propagation prune the metric node out of the
    // final plan. Above the exchange the write stage evaluates it exactly
    // once, and its input is empty only when the hit files held no masked
    // rows at all — where 0 is the right answer. The null-safe marker also
    // keeps NULL-predicate rows (null in a range column) as SURVIVORS.
    val obs = new org.apache.spark.sql.Observation()
    val dead = "_graft_dead"
    // one range exchange over ONLY the hit files' rows, one output file
    // per original hit file (sizes stay comparable)
    val clustered = zCluster(
        hitData.withColumn(dead, coalesce(rowPred, lit(false))),
        math.max(1, hitRaw.size), dims, bits)
      .observe(obs, count(when(col(dead), 1)).as("deleted"))
      .where(!col(dead)).drop(dead)
    val v = currentVersion(spark, dir) + 1
    val fresh = stageRenamePreclustered(spark, dir,
      s"$dir/_graft_delete_${java.util.UUID.randomUUID.toString.take(8)}_stage",
      s"delete_v$v", clustered, dims, bits, statsCols)
    val deleted = obs.get("deleted").asInstanceOf[Long]
    val tomb = tombstones(aliveDf, hitRaw, v)
    appendLog(dir, fresh.at(spark, v)
      .map(_.unionByName(tomb, allowMissingColumns = true)).getOrElse(tomb), v)
    DeleteReport(hitRaw.size, deleted,
      aliveCount - hitRaw.size + fresh.size)
  }

  final case class DeleteReport(filesRewritten: Int, rowsDeleted: Long,
      filesTotalAfter: Int)

  /** DELETE ... WHERE for an ARBITRARY predicate as ONE atomic rewrite
    * version — Delta's default (non-DV) DELETE shape, and the SQL `DELETE
    * FROM` fast path when no deletion vectors are outstanding (the DV
    * mark + immediate purge spelling costs two versions, two commits and
    * a DV-log round-trip for the same final table). Pass 1 finds the
    * files carrying TRUE-predicate rows ([[dmlCandidates]] envelope-prunes
    * range-shaped conjuncts; the read is masked so soft-deleted rows never
    * count); pass 2 rewrites ONLY those files without the matching rows
    * (outstanding DVs on them purge on the way), originals tombstone.
    * NULL-predicate rows survive (DELETE removes rows where the condition
    * is TRUE, never UNKNOWN). The deleted count rides the rewrite as an
    * observed metric above the range exchange (see [[deleteWhere]]). */
  def deleteRowsWhere(spark: SparkSession, dir: String, dims: Seq[Column],
      bits: Int, statsCols: Seq[String], cond: Column): DeleteReport = {
    val aliveDf = aliveManifest(spark, dir)
    val all = aliveDf.select("file")
      .collect().map(_.getString(0)).toIndexedSeq.sorted // O(files)
    if (all.isEmpty) return DeleteReport(0, 0L, 0)
    val candidates = dmlCandidates(spark, dir, aliveDf, all, cond)
    if (candidates.isEmpty) return DeleteReport(0, 0L, all.size)
    val sch = schemaAt(spark, dir, Latest)
    val base = readWithMeta(spark, candidates, sch)
    val masked = dvAt(spark, dir, Latest).map(applyMask(base, _)).getOrElse(base)
    val hitCanon = masked.where(cond).select(col(MetaFile).as("f"))
      .distinct().collect().map(_.getString(0)).toSet // O(files)
    val hit = all.filter(f => hitCanon(canon(f)))
    if (hit.isEmpty) return DeleteReport(0, 0L, all.size)
    val v = currentVersion(spark, dir) + 1
    val hitData = readMasked(spark, dir, hit, Latest)
    val obs = new org.apache.spark.sql.Observation()
    val dead = "_graft_dead"
    val clustered = zCluster(
        hitData.withColumn(dead, coalesce(cond, lit(false))),
        math.max(1, hit.size), dims, bits)
      .observe(obs, count(when(col(dead), 1)).as("deleted"))
      .where(!col(dead)).drop(dead)
    val fresh = stageRenamePreclustered(spark, dir,
      s"$dir/_graft_delete_${java.util.UUID.randomUUID.toString.take(8)}_stage",
      s"delete_v$v", clustered, dims, bits, statsCols)
    val deleted = obs.get("deleted").asInstanceOf[Long]
    val tomb = tombstones(aliveDf, hit, v)
    appendLog(dir, fresh.at(spark, v)
      .map(_.unionByName(tomb, allowMissingColumns = true)).getOrElse(tomb), v)
    DeleteReport(hit.size, deleted, all.size - hit.size + fresh.size)
  }

  /** UPDATE ... SET ... WHERE for clustered layouts — Delta's UPDATE
    * shape, atomically in ONE version: one masked metadata-column pass
    * finds the files that carry matching rows, ONLY those rewrite (matched
    * rows get the assignments applied, their neighbors ride along
    * unchanged, outstanding DVs purge on the way), originals tombstone.
    * Readers see the whole update or none of it — never a deleted-but-
    * not-yet-reinserted window. Assignments evaluate against the row
    * (expressions may reference any column); the condition must be TRUE
    * to update (NULL rows keep their values, SQL semantics). A
    * data-semantic rewrite: refuses on a lost OCC race like deleteWhere. */
  def updateWhere(spark: SparkSession, dir: String, dims: Seq[Column],
      bits: Int, statsCols: Seq[String], cond: Column,
      assignments: Map[String, Column]): UpdateReport = {
    require(assignments.nonEmpty, "updateWhere needs at least one SET column")
    val aliveDf = aliveManifest(spark, dir)
    val all = aliveDf.select("file")
      .collect().map(_.getString(0)).toIndexedSeq.sorted // O(files)
    if (all.isEmpty) return UpdateReport(0, 0L, 0, filesScanned = 0)
    val sch = schemaAt(spark, dir, Latest)
    assignments.keys.foreach(c => require(
      sch.map(_.fieldNames.toSeq)
        .getOrElse(spark.read.parquet(all.head).schema.fieldNames.toSeq)
        .contains(c),
      s"SET column '$c' not in the layout schema"))
    // pass 1: the files that carry matching rows — coordinates only,
    // masked so soft-deleted rows never resurrect as matches. For a
    // range-shaped condition the manifest envelopes prune the CANDIDATE
    // set first (the skipScan machinery, derived from the predicate's
    // conjuncts), so a clustered layout scans coordinates ∝ envelope
    // hits instead of the whole table; an unrecognizable predicate
    // falls back to scanning every file, the always-correct shape.
    val candidates = dmlCandidates(spark, dir, aliveDf, all, cond)
    if (candidates.isEmpty) return UpdateReport(0, 0L, all.size,
      filesScanned = 0)
    val base = readWithMeta(spark, candidates, sch)
    val masked = dvAt(spark, dir, Latest).map(applyMask(base, _)).getOrElse(base)
    val hitCanon = masked.where(cond).select(col(MetaFile).as("f"))
      .distinct().collect().map(_.getString(0)).toSet // O(files)
    val hit = all.filter(f => hitCanon(canon(f)))
    if (hit.isEmpty) return UpdateReport(0, 0L, all.size,
      filesScanned = candidates.size)
    val v = currentVersion(spark, dir) + 1
    // pass 2: rewrite ONLY the hit files; per column, matched rows take
    // the assignment, everything else passes through
    val hitData = readMasked(spark, dir, hit, Latest)
    // the updated-row count rides the rewrite as an observed metric (was a
    // separate full pass over the hit files). The marker evaluates the
    // condition ONCE against pre-update values and rides through zCluster's
    // range exchange so the metric sits ABOVE it — below the exchange the
    // boundary-sampling job would execute the scan a second time and double
    // the count (see deleteWhere).
    val obs = new org.apache.spark.sql.Observation()
    val upd = "_graft_upd"
    val rewritten = hitData
      .withColumn(upd, coalesce(cond, lit(false)))
      .select(hitData.columns.toSeq.map { c =>
      assignments.get(c) match {
        case Some(e) => when(col(upd), e).otherwise(col(c)).as(c)
        case None => col(c)
      }
    } :+ col(upd): _*)
    val clustered = zCluster(rewritten, hit.size, dims, bits)
      .observe(obs, count(when(col(upd), 1)).as("updated"))
      .drop(upd)
    val fresh = stageRenamePreclustered(spark, dir,
      s"$dir/_graft_update_${java.util.UUID.randomUUID.toString.take(8)}_stage",
      s"update_v$v", clustered, dims, bits, statsCols)
    val updatedCount = obs.get("updated").asInstanceOf[Long]
    val tomb = tombstones(aliveDf, hit, v)
    appendLog(dir, fresh.at(spark, v)
      .map(_.unionByName(tomb, allowMissingColumns = true)).getOrElse(tomb), v)
    UpdateReport(filesRewritten = hit.size, rowsUpdated = updatedCount,
      filesTotalAfter = all.size - hit.size + fresh.size,
      filesScanned = candidates.size)
  }

  /** `filesScanned` counts the files whose coordinates pass 1 actually
    * read — on a clustered layout with a range-shaped predicate it is the
    * envelope-hit count, not the table's file count (-1 = a legacy
    * construction that didn't record it). */
  final case class UpdateReport(filesRewritten: Int, rowsUpdated: Long,
      filesTotalAfter: Int, filesScanned: Int = -1)

  /** Physically remove every data file not alive at any version in the
    * RETENTION WINDOW `[hwm − retainVersions, hwm]` (plus stat-less empty
    * orphans) and compact the manifest log to the retained files' rows.
    * Time travel inside the window keeps working — the retained files'
    * original add/tombstone versions survive the compaction; versions
    * below the resulting HORIZON refuse loudly (their files are gone).
    *
    * The default keeps ONE version of history, so a routine vacuum no
    * longer silently destroys all time travel; GDPR-grade erasure is the
    * explicit `retainVersions = 0` spelling — only the latest version's
    * files remain, exactly Delta's `VACUUM ... RETAIN 0 HOURS` contract
    * (deleteWhere/purgeDeletes + vacuum(0) completes the right to be
    * forgotten). The horizon never regresses: a lenient vacuum after a
    * strict one cannot re-promise versions whose files are already gone. */
  /** Residue younger than this survives a vacuum: an UNLOGGED data file
    * or stage dir may belong to a concurrent append between its write and
    * its commit (both explicitly supported — OCC retry, zombie twins), so
    * only residue old enough that no live writer can own it is reclaimed.
    * The commit side of that same race is covered by vacuum's SNAPSHOT
    * discipline: the log compaction reads and deletes exactly the commit
    * files listed at vacuum start, so an append or DV delete that COMMITS
    * mid-vacuum keeps its commit file and its rows — end to end, an append
    * racing a vacuum loses nothing. Rewrites racing a vacuum remain
    * outside the supported contract (single-rewrite-mutator discipline).
    * Files the LOG knows as tombstoned delete regardless of age — their
    * writer committed and moved on. One hour outlasts any rename→commit
    * window by orders of magnitude; a deployment whose single clustered
    * STAGE write runs longer passes its own grace. */
  val DefaultVacuumGraceMs: Long = 60L * 60 * 1000

  def vacuum(spark: SparkSession, dir: String,
      retainVersions: Int = 1,
      graceMs: Long = DefaultVacuumGraceMs): VacuumReport = {
    require(retainVersions >= 0, s"retainVersions must be >= 0: $retainVersions")
    val fs = fsOf(spark, dir)
    // SNAPSHOT the log's physical files FIRST and work from exactly that
    // list — never from a directory read. A concurrent commit (append, DV
    // soft delete) landing after this listing is neither compacted into the
    // new base nor on the deletion list, so it survives the vacuum with its
    // rows fully visible; its DATA files are protected by the grace window
    // below. The listing is the log readers' own visible-file rule: an
    // in-flight driver-staged commit (`_stage_*.parquet`) is not a log file
    // until its rename, and reading one by explicit path after it was
    // renamed or swept fails.
    def logSnapshot(ld: String): Seq[org.apache.hadoop.fs.FileStatus] =
      LogLocal.logFiles(fs, new org.apache.hadoop.fs.Path(ld)).getOrElse(Nil)
        .sortBy(_.getPath.toString)
    val snapMFiles = logSnapshot(manifestPath(dir))
    val snapDvFiles = logSnapshot(dvPath(dir))
    val snapM = snapMFiles.map(_.getPath.toString)
    require(snapM.nonEmpty, s"no layout (manifest) at $dir to vacuum")
    val snapDv = snapDvFiles.map(_.getPath.toString)
    // the snapshot's raw rows on the driver (past the size cap a Spark read
    // collects them — the compacted base below is collected to stage it
    // either way); everything below derives from them and their replay
    val (schema, rows) = manifestRowsLocal(spark, dir, Some(snapM)).getOrElse {
      val df = spark.read.option("mergeSchema", "true").parquet(snapM: _*)
      (df.schema, df.collect().toVector)
    }
    val m = foldManifest(schema, rows)
    // hwm/horizon from the SNAPSHOT (not a dir re-read): the base this
    // vacuum writes must describe exactly the rows it read
    val hwm = math.max(m.maxVersion, dvMaxVersion(spark, dir, Some(snapDv)))
    val horizon = math.max(m.horizon, math.max(0L, hwm - retainVersions))
    // a file is retained iff alive at SOME version in [horizon, hwm]:
    // never tombstoned, or tombstoned after the horizon. Its rows keep
    // their original v_added/v_removed so every retained version still
    // reconstructs exactly. keptRows collapses rows lingering from prior
    // bases (grace-deferred reclaim below) — exact dups only, so legit
    // rows (one add + one tombstone per file) are never merged.
    val real = m.entries.filterNot(_.sentinel)
    val retained = real.collect { case e if e.removed.forall(_ > horizon) => e.file }.toSet
    val retainedCanon = retained.map(canon)
    val loggedCanon = real.map(e => canon(e.file)).toSet
    val iF = schema.fieldIndex("file")
    // value-equality dedup key: byte arrays compare by content
    def key(r: org.apache.spark.sql.Row): Seq[Any] =
      r.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }
    val seen = scala.collection.mutable.Set.empty[Seq[Any]]
    val keptRows = rows.filter(r => !r.isNullAt(iF) &&
      retained(r.getString(iF)) && seen.add(key(r)))
    val now = System.currentTimeMillis()
    // ages come from the listing that found each entry: a stage renamed
    // or swept after the listing must not fail a by-path re-stat
    def oldEnough(s: org.apache.hadoop.fs.FileStatus): Boolean =
      now - s.getModificationTime > graceMs
    var removed = 0
    // parents whose files THIS vacuum reclaimed: an append-v subdir so
    // emptied is certainly not a live append's (its files were logged
    // tombstones or aged orphans) — deletable below even though deleting
    // its files just bumped the dir mtime
    val emptiedParents = scala.collection.mutable.Set.empty[String]
    for (f <- listDataFiles(spark, dir) if !retainedCanon(canon(f))) {
      val p = new org.apache.hadoop.fs.Path(f)
      if ((loggedCanon(canon(f)) || oldEnough(fs.getFileStatus(p))) &&
        fs.delete(p, false)) {
        removed += 1
        emptiedParents += canon(p.getParent.toString)
      }
    }
    // marker rows (v_added = v_removed = v, so never alive at any version
    // — readers skip them):
    //  - the version HIGH-WATER MARK: a vacuum right after a
    //    delete-everything mutation would otherwise drop that version's
    //    tombstones, currentVersion would regress, and the next mutation
    //    would REUSE an already-issued version id;
    //  - the HORIZON, so time travel below it refuses with a clear error
    //    instead of returning a silently partial table;
    //  - exactly-once durability: each txn app's committed-batch high-water
    //    mark must SURVIVE the log rows that carried it (a compaction
    //    tombstoned them; this vacuum may reclaim them) — one synthetic
    //    row per app from the FULL pre-vacuum log, so lastCommittedTxn
    //    keeps refusing zombie replays forever.
    def marker(name: String, v: Long, app: String = null,
        batch: java.lang.Long = null) =
      org.apache.spark.sql.Row.fromSeq(schema.fields.toSeq.map(_.name match {
        case "file" => name
        case "v_added" | "v_removed" => java.lang.Long.valueOf(v)
        case "txn_app" => app
        case "txn_batch" => batch
        case _ => null
      }))
    val txnHwms = scala.collection.mutable.Map.empty[String, Long]
    if (schema.fieldNames.contains("txn_app")) {
      val iApp = schema.fieldIndex("txn_app")
      val iB = schema.fieldIndex("txn_batch")
      for (r <- rows if !r.isNullAt(iApp) && !r.isNullAt(iB)) {
        val app = r.getString(iApp)
        if (txnHwms.getOrElse(app, Long.MinValue) < r.getLong(iB))
          txnHwms(app) = r.getLong(iB)
      }
    }
    val markers = Seq(marker(VersionHwmFile, hwm)) ++
      (if (horizon > 0) Seq(marker(VersionHorizonFile, horizon)) else Nil) ++
      txnHwms.toSeq.sortBy(_._1).map { case (app, batch) =>
        marker(TxnHwmFilePrefix + app, hwm, app, batch) }
    // COMPACT, don't overwrite: the new base lands as ONE uniquely-named
    // file first; the files it supersedes are deleted ONLY once aged past
    // the grace window (this vacuum for old ones, a later vacuum for the
    // rest — Delta's log-retention discipline). Two races close at once:
    // a commit file that landed after the snapshot is untouched (not in
    // the snapshot), and a reader that LISTED the log just before this
    // compaction never loses a listed file mid-read (young files linger).
    // Until reclaim, superseded rows coexist with the base as EXACT
    // duplicates — idempotent under every log consumer (aliveManifest's
    // per-file groupBy/max, the max-based version/txn/horizon probes, and
    // history's dropDuplicates).
    writeCompactedLog(spark, manifestPath(dir), normalizeLog(spark.createDataFrame(
      java.util.Arrays.asList(keptRows ++ markers: _*), schema)), smallMeta = true)
    snapMFiles.filter(oldEnough).foreach(s => fs.delete(s.getPath, false))
    // compact the DV log too: rows addressing just-deleted files can never
    // be consulted again (their versions are unreadable post-vacuum), while
    // rows on RETAINED files must survive — they still mask reads at every
    // retained version until a purge rewrites those files. Same
    // snapshot-compact-delete discipline as the manifest: a DV commit
    // racing this vacuum survives untouched.
    if (snapDv.nonEmpty) {
      val d = spark.read.schema(DvSchema).parquet(snapDv: _*)
      val keptNames = spark.createDataset(retainedCanon.toSeq)(
        org.apache.spark.sql.Encoders.STRING).toDF("_kept_f")
      val dvKept = d.join(keptNames,
          canonCol(col("file")) === col("_kept_f"), "left_semi")
        .dropDuplicates() // collapse rows still lingering from prior bases
        .localCheckpoint(true)
      if (dvKept.count() > 0L) writeCompactedLog(spark, dvPath(dir), dvKept)
      snapDvFiles.filter(oldEnough).foreach(s => fs.delete(s.getPath, false))
    }
    // sweep crashed commit stages: a `_stage_*` dir is either the residue
    // of a writer that died before its rename (reclaim it) or an in-flight
    // commit — age-gated, so a live concurrent committer's stage survives
    // and only residue older than any plausible stage→rename window goes
    for (ld <- Seq(manifestPath(dir), dvPath(dir))) {
      val lp = new org.apache.hadoop.fs.Path(ld)
      if (fs.exists(lp))
        fs.listStatus(lp)
          // dirs (Spark-staged) AND single files (driver-staged writeLocal)
          .filter(s => s.getPath.getName.startsWith("_stage_") && oldEnough(s))
          .foreach(s => fs.delete(s.getPath, s.isDirectory))
    }
    // ...and crashed REWRITE stages at the dir root (`_graft_*_stage`,
    // plus bloom-refresh swap stages): invisible to every reader
    // (underscore-prefixed), but a compaction that died mid-write leaks
    // its staged bytes forever otherwise — at 100 TB rewrite scale that
    // is real disk. Age-gated like the orphans above: a YOUNG stage dir
    // may be a concurrent append mid-write (supported), only one older
    // than the grace is certainly residue.
    val rootP = new org.apache.hadoop.fs.Path(dir)
    if (fs.exists(rootP))
      fs.listStatus(rootP)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("_graft_") &&
          s.getPath.getName.endsWith("_stage") && oldEnough(s))
        .foreach(s => fs.delete(s.getPath, true))
    // direct-commit subdirs (append-v* / rewrite-*): one the deletions
    // above emptied goes now (mtime just bumped, but no live writer can
    // own it); an aged empty one is residue too. "Empty" ignores hidden
    // markers (_SUCCESS). Non-empty young dirs are a live writer
    // mid-commit — untouched.
    def noDataLeft(d: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(d).forall(f => f.getPath.getName.startsWith("_") ||
        f.getPath.getName.startsWith("."))
    if (fs.exists(rootP))
      fs.listStatus(rootP)
        .filter(s => s.isDirectory && isDirectSubdirName(s.getPath.getName) &&
          noDataLeft(s.getPath) &&
          (oldEnough(s) || emptiedParents(canon(s.getPath.toString))))
        .foreach(s => fs.delete(s.getPath, true))
    val bloomRoot = new org.apache.hadoop.fs.Path(s"$dir/$BloomDir")
    if (fs.exists(bloomRoot))
      fs.listStatus(bloomRoot)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("_stage_") &&
          oldEnough(s))
        .foreach(s => fs.delete(s.getPath, true))
    VacuumReport(filesDeleted = removed, logRowsBefore = rows.size.toLong,
      logRowsAfter = retainedCanon.size.toLong)
  }

  /** Synthetic manifest-log file name carrying the version high-water mark
    * through a vacuum (v_added = v_removed, so never alive). */
  val VersionHwmFile = "_graft_version_hwm"

  /** Prefix of the per-app synthetic rows that carry each transaction
    * app's committed-batch high-water mark through a vacuum. Without
    * them, vacuuming a layout whose txn-marked files were rewritten (a
    * compaction) and reclaimed would ERASE the exactly-once history — a
    * zombie replay of an old batch id would then re-land. One row per
    * app, `file = prefix + app`, v_added = v_removed (never alive). */
  val TxnHwmFilePrefix = "_graft_txn_hwm:"

  /** Synthetic log file name for a version that carried ONLY a schema
    * extension (an empty delta with new columns): no data file to hang the
    * version on, so one never-alive sentinel row anchors it — currentVersion
    * advances and the widened schema records at that version. */
  val SchemaEvolutionFile = "_graft_schema_evolution"

  /** All synthetic log rows share the `_graft_` name prefix; real data
    * files are absolute paths and can never collide. */
  private def isSentinelFile(c: Column): Column = c.startsWith("_graft_")

  /** Synthetic manifest-log file name carrying the vacuum horizon: the
    * lowest version whose files are all still present. Reads below it
    * refuse. */
  val VersionHorizonFile = "_graft_version_horizon"

  /** The layout's vacuum horizon — the lowest time-travelable version.
    * 0 when never vacuumed with retention (or no layout yet). */
  def vacuumHorizon(spark: SparkSession, dir: String): Long =
    if (!fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(manifestPath(dir)))) 0L
    else manifestFold(spark, dir).horizon

  final case class VacuumReport(filesDeleted: Int, logRowsBefore: Long,
      logRowsAfter: Long)

  // ---- shallow clone -----------------------------------------------------

  /** SHALLOW CLONE: an independent layout at `dstDir` equal to `srcDir` at
    * `version`, WITHOUT copying a single data byte — only the manifest
    * (alive rows rebased to version 0) and the version's effective
    * deletion-vector positions move. O(files) metadata for any table size:
    * a 100 TB dev branch in milliseconds (Delta's CREATE TABLE ... SHALLOW
    * CLONE).
    *
    * The clone then DIVERGES freely: appends, deletes, merges, and
    * compactions write their files under `dstDir` and tombstone shared
    * entries in the CLONE's manifest only — the source never observes any
    * of it. Copy-on-write falls out of the layout's own immutability: a
    * rewrite reads the shared files and writes replacements locally.
    *
    * Safety asymmetries to know:
    *  - [[vacuum]] on the clone only deletes files PHYSICALLY under
    *    `dstDir` ([[listDataFiles]] never lists foreign paths), so shared
    *    source bytes survive any clone-side vacuum; retired shared entries
    *    just leave the clone's log.
    *  - [[vacuum]] on the SOURCE doesn't know about clones (there is no
    *    central catalog): source-side vacuum after source-side mutations
    *    can delete files a clone still references — vacuum sources only
    *    when their clones are gone, or clone from a version you keep
    *    alive. The same contract Delta documents for shallow clones. */
  def cloneLayout(spark: SparkSession, srcDir: String, dstDir: String,
      version: Long = Latest): CloneReport = {
    require(canon(srcDir) != canon(dstDir),
      s"clone target must differ from the source: $srcDir")
    require(fsOf(spark, srcDir).exists(
      new org.apache.hadoop.fs.Path(manifestPath(srcDir))),
      s"no layout (manifest) at $srcDir")
    val alive = aliveManifest(spark, srcDir, version)
    val n = alive.count()
    require(n > 0, s"layout at $srcDir has no alive files at version $version")
    val fs = fsOf(spark, dstDir)
    fs.delete(new org.apache.hadoop.fs.Path(dstDir), true)
    normalizeLog(alive
      .withColumn("v_added", lit(0L))
      .withColumn("v_removed", lit(null).cast("long")))
      .write.mode("overwrite").parquet(manifestPath(dstDir))
    // the version's effective mask comes along, rebased to the clone's
    // version 0 (positions on non-alive files can never be consulted)
    val dvMoved = dvLogDeduped(spark, srcDir)
      .map(_.where(col("v") <= version)).map { d =>
      val kept = d.join(alive.select(canonCol(col("file")).as("_alive_f")),
          canonCol(col("file")) === col("_alive_f"), "left_semi")
        .select(col("file"), col("pos"), lit(0L).as("v"))
        .localCheckpoint(true)
      val k = kept.count()
      if (k > 0L) kept.write.mode("overwrite").parquet(dvPath(dstDir))
      k
    }.getOrElse(0L)
    // the version's effective schema becomes the clone's baseline
    schemaAt(spark, srcDir, version).foreach(recordSchema(spark, dstDir, 0L, _))
    CloneReport(filesShared = n, dvPositions = dvMoved)
  }

  final case class CloneReport(filesShared: Long, dvPositions: Long)

  // ---- version diff ------------------------------------------------------

  /** The diff between two VERSIONS of a layout, at churn cost: because data
    * files are immutable, every row of a file alive in BOTH versions is
    * identical in both — so only files present in exactly one version can
    * contribute diff rows. Those files' rows feed the engine's flagship
    * [[graft.diff.JoinDiffer.diff]] ('-' rows left at `fromVersion`, '+'
    * rows arrived by `toVersion`); files alive in both are never read.
    * A day of churn on a 100 TB table diffs in minutes; the reference
    * re-bisects the full key range instead. */
  def diffVersions(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String],
      compareCols: Seq[String] = Nil): VersionDiff = {
    val (lo, hi) = (math.min(fromVersion, toVersion), math.max(fromVersion, toVersion))
    // ONE manifest replay decides everything file-shaped below — both
    // versions' alive sets (each horizon-checked), the fingerprints — and
    // one DV replay everything DV-shaped
    val m = manifestFold(spark, dir)
    val fa = m.aliveAt(dir, fromVersion).map(_.file).toSet
    val fb = m.aliveAt(dir, toVersion).map(_.file).toSet
    val onlyA = (fa -- fb).toSeq.sorted
    val onlyB = (fb -- fa).toSeq.sorted
    // DELETION VECTORS break "shared file ⇒ identical rows": a file alive
    // in both versions still differs if a DV landed on it in between. Pull
    // those files onto BOTH sides, each masked at its own version — cost
    // stays ∝ churn (files a delete touched), never table size. The DV
    // replay feeds the in-range set, the ever-DV'd set (the fingerprint
    // veto) and the masked reads' file partitioning below.
    val dv = dvFold(spark, dir)
    val dvdEver: Set[String] = dv.filesAt(Latest)
    val dvInRange: Set[String] =
      dv.entries.collect { case e if e.v > lo && e.v <= hi => e.file }.toSet
    val dvChanged: Seq[String] =
      (fa intersect fb).filter(f => dvInRange(canon(f))).toSeq.sorted
    // FINGERPRINT fast path: a file-moving-but-row-preserving step
    // (compaction, recluster, bin-pack) cancels and reads NOTHING.
    // DV-carrying files never cancel (bytes ≠ effective rows).
    val fps = m.entries.map(e => e.file -> e.fingerprint).toMap
    def fp(f: String) = f -> fps(f).filterNot(_ => dvdEver(canon(f)))
    val (readA, readB) = fpUncancelled(onlyA.map(fp), onlyB.map(fp))
    // both sides read under the RANGE END's schema: a compare column that
    // arrived mid-range reads NULL on the older side instead of erroring
    val hiSchema = schemaAt(spark, dir, hi)
    def side(only: Seq[String], v: Long): DataFrame = {
      val fl = only ++ dvChanged
      // the version's OWN DV'd-file set (not dvdEver): a side whose
      // version predates every DV — the from side of a first delete —
      // then reads plain, no meta columns, no anti join
      if (fl.nonEmpty)
        readMasked(spark, dir, fl, v, hiSchema, dvCanonKnown = Some(dv.filesAt(v)))
      else readLayout(spark, dir, hi).where(lit(false))
    }
    val diff = graft.diff.JoinDiffer.diff(
      side(readA, fromVersion), side(readB, toVersion), keyCols, compareCols)
    VersionDiff(diff, filesReadA = readA.size + dvChanged.size,
      filesReadB = readB.size + dvChanged.size,
      filesUnchanged = (fa intersect fb).size - dvChanged.size +
        (onlyA.size - readA.size) + (onlyB.size - readB.size))
  }

  final case class VersionDiff(df: DataFrame, filesReadA: Int,
      filesReadB: Int, filesUnchanged: Int)

  /** FINGERPRINT CANCEL, shared by every file-set diff: of two sides'
    * files (each with its usable (content fingerprint, rows) pair, if
    * any), the ones whose rows must still be read, each side sorted.
    * ADDITIVITY first: when every file is usable and the two sides'
    * fingerprint and row-count SUMS agree, the whole difference is a
    * row-preserving rewrite (compaction merges 2 files into 1 — no
    * per-file pair matches, the sums do) and nothing reads. Otherwise
    * equal pairs cancel multiset-wise, in file-name order, and the
    * remainder reads; a file without a usable pair always reads. Equality
    * is checksum-grade (64-bit sums), the acceptance the reference's
    * hashdiff rests on. */
  private def fpUncancelled(a: Seq[(String, Option[(BigDecimal, Long)])],
      b: Seq[(String, Option[(BigDecimal, Long)])]): (Seq[String], Seq[String]) = {
    def total(side: Seq[(String, Option[(BigDecimal, Long)])]) =
      (side.map(_._2.get._1).sum, side.map(_._2.get._2).sum)
    if ((a ++ b).forall(_._2.isDefined) && total(a) == total(b)) return (Nil, Nil)
    def unmatched(side: Seq[(String, Option[(BigDecimal, Long)])],
        other: Seq[(String, Option[(BigDecimal, Long)])]): Seq[String] = {
      val budget = scala.collection.mutable.Map.empty[(BigDecimal, Long), Int]
      other.flatMap(_._2).foreach(k => budget(k) = budget.getOrElse(k, 0) + 1)
      side.sortBy(_._1).flatMap {
        case (_, Some(k)) if budget.getOrElse(k, 0) > 0 => budget(k) -= 1; None
        case (f, _) => Some(f)
      }
    }
    (unmatched(a, b), unmatched(b, a))
  }

  /** The diff between TWO LAYOUTS at file granularity — the nightly
    * replica-verify operator: [[diffVersions]]' rsync trick generalized
    * across tables. Every write stamps each file's manifest row with a
    * content fingerprint ([[contentFingerprint]]: row-order-insensitive,
    * additive, column-order-canonical), so equality is decided from
    * O(files) metadata before any row is read:
    *
    *  - GLOBAL fast path: when every alive file on both sides carries a
    *    usable fingerprint, equal whole-table (sum, row-count) pairs prove
    *    the layouts equal with ZERO data reads — additivity makes this
    *    hold even when the two sides are clustered completely differently
    *    (a replica z-ordered by its own dims verifies against its source
    *    manifest-only when clean);
    *  - FILE fast path: files with equal (fingerprint, rows) pairs cancel
    *    multiset-wise across the sides and are never read — after a clone
    *    + localized merge, only the churned files feed row work;
    *  - DV-carrying files (bytes ≠ effective rows) get their EFFECTIVE
    *    fingerprint recomputed over the masked read — cost ∝ DV'd files —
    *    so outstanding soft deletes don't force a full-table fallback;
    *  - the remainder — fingerprint-less files (a manifest predating the
    *    fingerprint column reads NULL under mergeSchema) and
    *    genuinely-different files — goes through the engine's flagship
    *    [[graft.diff.JoinDiffer.diff]] ('-' rows only in A, '+' rows only
    *    in B), each side masked at its own version.
    *
    * Cost ∝ churn between the layouts, never table size; a 100 TB replica
    * that is clean costs one manifest scan per side. Fingerprint equality
    * is checksum-grade (64-bit sums), the same acceptance the reference's
    * hashdiff rests on. */
  def diffLayouts(spark: SparkSession, dirA: String, dirB: String,
      keyCols: Seq[String], compareCols: Seq[String] = Nil,
      versionA: Long = Latest, versionB: Long = Latest,
      bisectSegments: Int = 256,
      bisectRowThreshold: Long = 1L << 16): LayoutDiff = {
    require(keyCols.nonEmpty, "diffLayouts needs at least one key column")
    // per side: all alive files, plus file → (fp, rows) where usable.
    // DV-carrying files (bytes ≠ effective rows) get their EFFECTIVE
    // fingerprint recomputed over the masked read — cost ∝ DV'd files,
    // which keeps a clean replica verify metadata-cheap even while soft
    // deletes are outstanding on the source (those files would have to be
    // read anyway if left unmatched; computing their fp instead lets every
    // clean file still cancel).
    def side(dir: String, v: Long): (Seq[String], Map[String, (BigDecimal, Long)]) = {
      val alive = manifestFold(spark, dir).aliveAt(dir, v)
      val dvd = dvFold(spark, dir).filesAt(v)
      val files = alive.map(_.file).sorted
      val recorded = alive.flatMap(e =>
        e.fingerprint.filterNot(_ => dvd(canon(e.file))).map(e.file -> _)).toMap
      val dvdFiles = files.filter(f => dvd(canon(f)))
      val effective: Map[String, (BigDecimal, Long)] =
        if (dvdFiles.isEmpty) Map.empty
        else {
          // the canonical file-path meta column survives the mask's anti
          // join (input_file_name() would not — it reads as "" outside
          // the scan stage)
          val base = readWithMeta(spark, dvdFiles, schemaAt(spark, dir, v))
          val masked = dvAt(spark, dir, v).map(applyMask(base, _)).getOrElse(base)
          val dataCols = masked.columns.filterNot(Set(MetaFile, MetaPos)).toSeq
          val byCanon = masked
            .groupBy(col(MetaFile).as("_f"))
            .agg(contentFingerprint(dataCols).as("_fp"), count(lit(1)).as("_n"))
            .collect().map(r =>
              r.getString(0) -> ((BigDecimal(r.getDecimal(1)), r.getLong(2))))
            .toMap // O(dv-files) rows; a fully-masked file yields none
          dvdFiles.flatMap(f => byCanon.get(canon(f)).map(f -> _)).toMap
        }
      (files, recorded ++ effective)
    }
    val (filesA, fpA) = side(dirA, versionA)
    val (filesB, fpB) = side(dirB, versionB)
    def emptySide(dir: String) = emptyFrame(spark, dir)
    def diffOf(readA: Seq[String], readB: Seq[String]): DataFrame =
      graft.diff.JoinDiffer.diff(
        if (readA.isEmpty) emptySide(dirA)
        else readMasked(spark, dirA, readA, versionA),
        if (readB.isEmpty) emptySide(dirB)
        else readMasked(spark, dirB, readB, versionB),
        keyCols, compareCols)
    // GLOBAL fast path (every file fingerprinted, equal whole-table sums:
    // equal across ANY clustering, zero data reads), else the FILE fast
    // path; the remainder (plus fingerprint-less files) is read
    val (readA, readB) =
      fpUncancelled(filesA.map(f => f -> fpA.get(f)), filesB.map(f => f -> fpB.get(f)))
    // CHECKSUM BISECTION — the dirty-path degrader's antidote: when two
    // DIFFERENTLY-CLUSTERED layouts differ by even one row, no file
    // fingerprint cancels and both dirty sets are the whole table. Feeding
    // all of it to the full-outer JoinDiff shuffles every row twice. The
    // reference's own answer to exactly this shape is checksum bisection
    // (data_diff/hashdiff_tables.py:169-264) — applied here BETWEEN
    // layouts: segment the shared key space (geometry from the manifests'
    // key envelopes), aggregate one additive checksum per segment per side
    // (one map-side-combinable pass, no row shuffle), and row-diff ONLY
    // the mismatched segments, with the manifest envelopes pruning which
    // files can hold them. A localized mutation then costs one checksum
    // scan plus a JoinDiff of a few segments' files, never a whole-table
    // shuffle. Falls through to the plain JoinDiff when the key's type is
    // not segmentable or no envelope geometry is recorded.
    if (bisectSegments > 0 && readA.nonEmpty && readB.nonEmpty &&
        readA.size + readB.size >= 4) {
      val bs = bisectLayoutDiff(spark, dirA, dirB, versionA, versionB,
        keyCols, compareCols, readA, readB, filesA.size, filesB.size,
        bisectSegments, bisectRowThreshold)
      if (bs.isDefined) return bs.get
    }
    LayoutDiff(diffOf(readA, readB),
      filesReadA = readA.size, filesTotalA = filesA.size,
      filesReadB = readB.size, filesTotalB = filesB.size)
  }

  /** Ordinal codec for segmenting a key column: a Column expression mapping
    * the key to a Long MONOTONE in the column's natural order (ties allowed
    * — they cost segment precision, never correctness), plus the
    * driver-side twin for manifest min/max values. None = unsupported type
    * (bisection falls back to the plain full JoinDiff). */
  private def keyOrdinal(dt: org.apache.spark.sql.types.DataType)
      : Option[(Column => Column, Any => Long)] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(((c: Column) => c.cast("long"), {
          case n: java.lang.Number => n.longValue
          case other => throw new IllegalStateException(
            s"non-numeric stat for an integral key column: $other")
        }))
      case DateType =>
        Some(((c: Column) => unix_date(c), {
          case d: java.sql.Date => d.toLocalDate.toEpochDay
          case d: java.time.LocalDate => d.toEpochDay
          case other => throw new IllegalStateException(
            s"unexpected date stat value: $other")
        }))
      case TimestampType =>
        // millisecond ordinals: sub-ms ties only blur segment boundaries
        Some(((c: Column) => unix_millis(c), {
          case t: java.sql.Timestamp => t.getTime
          case t: java.time.Instant => t.toEpochMilli
          case other => throw new IllegalStateException(
            s"unexpected timestamp stat value: $other")
        }))
      case StringType =>
        // the byte-order-monotone 7-byte packing stringDim uses; the
        // driver twin mirrors it bit-for-bit
        Some(((c: Column) => stringDim(c, 56), v => {
          val b = v.toString.getBytes("UTF-8").padTo(7, 0.toByte).take(7)
          b.foldLeft(0L)((acc, x) => (acc << 8) | (x & 0xffL))
        }))
      case _ => None
    }
  }

  /** The bisected dirty-path diff (see [[diffLayouts]]). Returns None when
    * segmentation is impossible: key stats missing on a side, unsupported
    * or mismatched key types, no recorded envelope geometry, or a
    * degenerate ordinal span.
    *
    * Two r18 extensions close the scale seams the single-level version
    * left open:
    *
    *  - RECURSION (the reference's own shape —
    *    data_diff/hashdiff_tables.py:169-264, factor 32 per level): after
    *    a level's checksum pass, if the dirty segments still hold more
    *    than `rowThreshold` rows, each dirty ordinal range re-segments 32
    *    ways and only THOSE rows re-checksum — at 100 TB a localized
    *    mutation resolves to a JoinDiff of ~rowThreshold rows in a handful
    *    of levels, instead of one 256th of the table (~400 GB). Each
    *    deeper level reads only envelope-hit files, so level cost shrinks
    *    with the dirt.
    *  - COMPOUND-KEY MESH (reference: data_diff/table_segment.py:23-86):
    *    with multiple key columns, up to THREE segmentable keys' ordinals
    *    scale into a per-dim bit budget (2×28 or 3×18 bits — inside a
    *    signed Long either way) and interleave through [[zOrderKey]] — a
    *    low-cardinality or skewed LEADING key (status, tenant, day) no
    *    longer collapses the span into a few saturated segments, because
    *    the later keys' bits keep subdividing where the first one's
    *    cannot; r19 adds the third dimension, closing the
    *    (low-card, low-card, high-card) shape the 2-mesh re-degenerated
    *    on. Non-segmentable tail keys are skipped — any SUBSET of the
    *    key columns segments correctly, equal full keys share every
    *    projection. Aligned z cells are exact per-key boxes, so file
    *    envelope pruning carries over dimension-wise. */
  private def bisectLayoutDiff(spark: SparkSession, dirA: String,
      dirB: String, versionA: Long, versionB: Long, keyCols: Seq[String],
      compareCols: Seq[String], readA: Seq[String], readB: Seq[String],
      totalA: Int, totalB: Int, nSeg: Int,
      rowThreshold: Long): Option[LayoutDiff] = {
    val MaxLevels = 6
    val MaxRanges = 64 // dirty-range cap per level (CASE-chain size bound)
    val Fanout = 32 // per-level subdivision factor past level 0

    // per file and key: the recorded envelope as ordinals, whether the
    // file may hold NULL keys, and whether stats were never recorded
    final case class KeyStat(lo: Option[Long], hi: Option[Long],
        mayNull: Boolean, unrec: Boolean)

    val aliveA = aliveManifest(spark, dirA, versionA)
    val aliveB = aliveManifest(spark, dirB, versionB)
    val mColsA = aliveA.columns.toSet
    val mColsB = aliveB.columns.toSet
    def codecFor(k: String): Option[(Column => Column, Any => Long)] =
      if (!mColsA(s"min_$k") || !mColsB(s"min_$k")) None
      else {
        val dt = aliveA.schema(s"min_$k").dataType
        if (dt != aliveB.schema(s"min_$k").dataType) None
        else keyOrdinal(dt)
      }
    val k1 = keyCols.head
    val codec1 = codecFor(k1) match {
      case Some(c) => c
      case None => return None
    }
    // the compound mesh engages for up to TWO more segmentable key
    // columns (r19: the third dimension closes the (low-card, low-card,
    // high-card) shape the 2-mesh re-degenerated on); non-segmentable
    // tail keys are skipped — segmenting on any SUBSET of the key
    // columns is correct, equal full keys share every projection
    val extraKeys: Seq[(String, (Column => Column, Any => Long))] =
      keyCols.tail.flatMap(k => codecFor(k).map(k -> _)).take(2)
    val keys: Seq[String] = k1 +: extraKeys.map(_._1)
    val codecs: Seq[(Column => Column, Any => Long)] =
      codec1 +: extraKeys.map(_._2)

    // one O(files) manifest collect per side, all meshed keys at once
    def sideStats(alive: DataFrame, mCols: Set[String], files: Seq[String])
        : Seq[(String, Seq[KeyStat])] = {
      // driver-side membership filter, not a file-literal isin: the dirty
      // set can be the whole table (bisection's home case) and a
      // 100k-literal predicate would stress codegen for nothing
      val wanted = files.toSet
      val sel = col("file") +: keys.flatMap(k => Seq(
        col(s"min_$k"), col(s"max_$k"),
        (if (mCols(s"nulls_$k")) col(s"nulls_$k") else lit(null).cast("long"))
          .as(s"_n_$k")))
      alive.select(sel: _*)
        .collect() // O(files): names + one envelope each
        .filter(r => wanted(r.getString(0)))
        .map { r =>
          val stats = keys.indices.map { i =>
            val o = 1 + i * 3
            val unrec = r.isNullAt(o) && r.isNullAt(o + 2)
            KeyStat(
              if (r.isNullAt(o)) None else Some(codecs(i)._2(r.get(o))),
              if (r.isNullAt(o + 1)) None
              else Some(codecs(i)._2(r.get(o + 1))),
              mayNull = unrec || r.isNullAt(o + 2) || r.getLong(o + 2) > 0L,
              unrec = unrec)
          }
          r.getString(0) -> stats
        }.toSeq.sortBy(_._1)
    }
    val statsA = sideStats(aliveA, mColsA, readA)
    val statsB = sideStats(aliveB, mColsB, readB)

    // per-key global ordinal bounds over BOTH sides' recorded envelopes
    def boundsOf(i: Int): Option[(Long, Long)] = {
      val vs = (statsA ++ statsB)
        .flatMap { case (_, s) => s(i).lo.toSeq ++ s(i).hi.toSeq }
      if (vs.isEmpty) None else Some((vs.min, vs.max))
    }
    val (lo1, hi1) = boundsOf(0) match {
      case Some(b) => b
      case None => return None // no geometry recorded anywhere
    }
    if (BigInt(hi1) - BigInt(lo1) + 1 > BigInt(Long.MaxValue)) return None
    // extra mesh dimensions: (stats index, ordinal bounds) for each tail
    // key with recorded geometry and a representable span
    val meshExtra: Seq[(Int, (Long, Long))] =
      keys.indices.drop(1).flatMap { i =>
        boundsOf(i).filter { case (l, h) =>
          BigInt(h) - BigInt(l) + 1 <= BigInt(Long.MaxValue)
        }.map(i -> _)
      }
    // dims in the z mesh (1 = single-key, the r17 shape); per-dim bit
    // budget keeps the full key inside a signed Long: 2x28 = 56 bits,
    // 3x18 = 54 bits
    val nd = 1 + meshExtra.size
    val MeshBits = if (nd >= 3) 18 else 28
    // NULL-PRESERVING clamp: Spark's least/greatest SKIP null arguments
    // (least(NULL, hi) = hi), so a bare greatest(least(…)) would fold a
    // NULL key into the top segment instead of the NULL pool — and file
    // pruning, which routes null-pool rows through the mayNull flag, not
    // the envelope, would then silently miss them. (Latent in the r17
    // single-level code too; surfaced by the compound-mesh NULL spec.)
    def clampExpr(c: Column, lo: Long, hi: Long): Column =
      when(c.isNull, lit(null).cast("long"))
        .otherwise(greatest(least(c, lit(hi)), lit(lo)))

    // ---- the segmentation space --------------------------------------
    // Single key: the ordinal itself, clamped into the recorded global
    // envelope; dirty ranges prune files by interval overlap.
    // Compound (two keys): each key's ordinal scales into [0, 2^MeshBits)
    // and the two interleave through zOrderKey over the FULL aligned z
    // space [0, 4^MeshBits) — every segment at every level is then an
    // ALIGNED z cell, i.e. a perfect (k1, k2) box, so file pruning tests
    // the cell's per-key ranges against the file's per-key envelopes
    // exactly (a raw z-interval test would be uselessly loose for a file
    // spanning the whole leading key, the very case the mesh exists for).
    // The shared ordinal rides the frames as a MATERIALIZED column behind
    // a PLANNING BARRIER (the asBatch RDD round-trip), never as an inline
    // expression: zOrderKey expands its dimension expression once PER BIT
    // (28 terms each), and Catalyst's filter/project pushdown re-inlines
    // a plain withColumn alias into every consumer — the segment CASE,
    // the dirty-range filter and the JoinDiff predicate would each carry
    // dozens of copies of the full stringDim+clamp+interleave subtree
    // (observed: 30+ s of planning/codegen for a 1500-row compound diff).
    // Behind the barrier the ordinal evaluates exactly once per row and
    // every consumer references a plain attribute. The barrier costs the
    // scan its parquet predicate pushdown, which is moot here: these
    // passes read whole envelope-hit files by construction.
    val OrdCol = "_graft_bisect_ord"
    def barrier(df: DataFrame): DataFrame =
      org.apache.spark.sql.graftshim.StreamingFrameShim.asBatch(df)
    // mesh dims in stats order: (stats index, ordinal bounds)
    val dimBounds: Seq[(Int, (Long, Long))] = (0, (lo1, hi1)) +: meshExtra
    // STRETCH each key's ordinal to fill its full per-dim bit budget: a
    // wide span divides down, a narrow span shifts UP — without the
    // stretch a small-span key's bits would all sit in the low z
    // positions and the first levels would subdivide nothing but the
    // other keys (a 2^15-key span costs wasted whole-table levels
    // before its first bit is reached). Both directions are monotone,
    // so envelopes map exactly.
    def scaler(lo: Long, hi: Long): (Column => Column, Long => Long) = {
      val span = BigInt(hi) - BigInt(lo) + 1
      if (span > BigInt(1L << MeshBits)) {
        val d = ((span + (1L << MeshBits) - 1) / (1L << MeshBits)).toLong
        ((c: Column) => call_function("div", c - lit(lo), lit(d)),
          (v: Long) => (v - lo) / d)
      } else {
        val shift = MeshBits - (span - 1).bitLength
        ((c: Column) => shiftleft(c - lit(lo), shift),
          (v: Long) => (v - lo) << shift)
      }
    }
    val (glo, ghi, withOrd, scaled): (Long, Long, DataFrame => DataFrame,
        Option[Seq[Long => Long]]) =
      if (nd >= 2) {
        val scalers = dimBounds.map { case (_, (lo, hi)) => scaler(lo, hi) }
        // any NULL key component -> NULL z (the ordinal exprs propagate
        // NULL; zOrderKey's sum does too) -> the row pools in segment -1
        val add = (df: DataFrame) => {
          val staged = dimBounds.zip(scalers).zipWithIndex
            .foldLeft(df) { case (acc, (((i, (lo, hi)), (se, _)), d)) =>
              acc.withColumn(s"_graft_bisect_s$d",
                se(clampExpr(codecs(i)._1(col(keys(i))), lo, hi)))
            }
          barrier(staged
            .withColumn(OrdCol, zOrderKey(
              dimBounds.indices.map(d => col(s"_graft_bisect_s$d")),
              MeshBits))
            .drop(dimBounds.indices.map(d => s"_graft_bisect_s$d"): _*))
        }
        val driverScalers = dimBounds.zip(scalers).map {
          case ((_, (lo, hi)), (_, sv)) =>
            (v: Long) => sv(math.max(lo, math.min(hi, v)))
        }
        (0L, (1L << (nd * MeshBits)) - 1, add, Some(driverScalers))
      } else
        (lo1, hi1,
          (df: DataFrame) => barrier(df.withColumn(OrdCol,
            clampExpr(codecs(0)._1(col(k1)), lo1, hi1))),
          None)
    val ordCol = col(OrdCol)

    // de-interleave one dimension out of an aligned z value (bit j of
    // dim d sits at position j*nd + (nd-1-d), mirroring zOrderKey)
    def deint(z: Long, dim: Int): Long = {
      var r = 0L
      var j = 0
      while (j < MeshBits) {
        r |= ((z >> (j * nd + (nd - 1 - dim))) & 1L) << j
        j += 1
      }
      r
    }
    // an aligned z cell [base, base+w-1] (w a power of two) is a perfect
    // per-key box in SCALED space: of the t free low positions, dim d
    // owns those with p mod nd == nd-1-d, i.e. (t + d) / nd bits
    def cellBox(base: Long, w: Long): Seq[(Long, Long)] = {
      val t = java.lang.Long.numberOfTrailingZeros(w)
      dimBounds.indices.map { d =>
        val f = (t + d) / nd
        val a = deint(base, d)
        (a, a + (1L << f) - 1)
      }
    }
    // does the file's recorded envelope meet ANY dirty range? Single-key:
    // interval overlap on the ordinal. Compound: exact per-key box test
    // (ranges are aligned cells by construction).
    def envHit(s: Seq[KeyStat], ranges: Vector[(Long, Long)],
        nullDirty: Boolean): Boolean = {
      val unrec = s.exists(_.unrec)
      val mayNull = unrec || s.exists(_.mayNull)
      if (unrec || (nullDirty && mayNull)) return true
      scaled match {
        case None => (s(0).lo, s(0).hi) match {
          case (Some(l), Some(h)) =>
            ranges.exists { case (rl, rh) => h >= rl && l <= rh }
          case _ => false // recorded all-NULL keys: only the null pool
        }
        case Some(scalers) =>
          val envs = dimBounds.map(_._1).zip(scalers).map { case (i, sc) =>
            (s(i).lo, s(i).hi) match {
              case (Some(l), Some(h)) => Some((sc(l), sc(h)))
              case _ => None // key recorded all-NULL: only the null pool
            }
          }
          if (envs.exists(_.isEmpty)) false
          else ranges.exists { case (base, top) =>
            envs.map(_.get).zip(cellBox(base, top - base + 1)).forall {
              case ((el, eh), (cl, ch)) => eh >= cl && el <= ch
            }
          }
      }
    }

    val cmp =
      if (compareCols.nonEmpty) compareCols
      else readMasked(spark, dirA, readA.take(1), versionA)
        .columns.toSeq.filterNot(keyCols.contains)
    val sumCols = (keyCols ++ cmp).distinct

    // ---- the level loop ----------------------------------------------
    // State: dirty ordinal ranges (level 0: the whole space). In compound
    // mode every range is an aligned z cell and stays one (power-of-two
    // fanouts over a power-of-two space); capping coarsens cells to their
    // parents instead of merging neighbours, preserving alignment.
    final case class Sub(rlo: Long, rhi: Long, width: Long, base: Long,
        count: Long)
    var ranges: Vector[(Long, Long)] = Vector((glo, ghi))
    var nullDirty = false
    var level = 0
    var lastObserved = 0
    var lastDirty = 0
    var continue = true
    while (continue) {
      val fanout = if (level == 0) Integer.highestOneBit(nSeg.max(2))
        else Fanout
      var base = 0L
      val subs = ranges.map { case (rlo, rhi) =>
        val span = BigInt(rhi) - BigInt(rlo) + 1
        val width = ((span + fanout - 1) / fanout).toLong.max(1L)
        val count = ((span + width - 1) / width).toLong
        val s = Sub(rlo, rhi, width, base, count)
        base += count
        s
      }
      // segment id: a CASE over the (<= MaxRanges) dirty ranges — NULL
      // keys pool in -1 (adjudicated once, at level 0); rows outside
      // every range read NULL and drop from the aggregation (clean)
      val segId: Column = subs.foldLeft(when(ordCol.isNull, lit(-1L))) {
        (w, s) =>
          w.when(ordCol.between(s.rlo, s.rhi),
            lit(s.base) + call_function("div", ordCol - lit(s.rlo),
              lit(s.width)))
      }
      def hitFiles(stats: Seq[(String, Seq[KeyStat])]): Seq[String] =
        if (level == 0) stats.map(_._1) // full pass, null pool included
        // nullDirty = false here: deeper levels re-checksum only the
        // dirty RANGES (the null pool was adjudicated once at level 0
        // and cannot subdivide), so a file that may only hold null keys
        // need not re-read — the FINAL hit set below does honor it
        else stats.filter { case (_, s) => envHit(s, ranges, nullDirty = false) }
          .map(_._1)
      // per-segment additive checksum + exact count: sum of per-row
      // 64-bit hashes over key + compared columns (column set identical
      // to the JoinDiff's, so an ignored column never dirties a segment),
      // map-side combined — the only thing shuffled is O(segments) sums
      def sums(dir: String, v: Long, files: Seq[String])
          : Map[Long, (String, Long)] =
        if (files.isEmpty) Map.empty
        else withOrd(readMasked(spark, dir, files, v))
          .withColumn("_seg", segId)
          .where(if (level == 0) col("_seg").isNotNull
            else col("_seg") >= 0L)
          .groupBy("_seg")
          .agg(sum(xxhash64(sumCols.sorted.map(c => xxhash64(col(c))): _*)
              .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
              .cast("string").as("_fp"),
            count(lit(1)).as("_n"))
          .collect() // O(segments)
          .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      val sumA = sums(dirA, versionA, hitFiles(statsA))
      val sumB = sums(dirB, versionB, hitFiles(statsB))
      val allSegs = sumA.keySet ++ sumB.keySet
      val dirty = allSegs.filter(s => sumA.get(s) != sumB.get(s))
        .toSeq.sorted
      if (level == 0) nullDirty = dirty.contains(-1L)
      val realDirty = dirty.filter(_ >= 0L)
      lastObserved = allSegs.size
      lastDirty = dirty.size
      def owner(id: Long): Sub = subs.find(s =>
        id >= s.base && id < s.base + s.count).get
      ranges = scaled match {
        case None =>
          // 1-D: contiguous dirty ids merge into runs (a run crossing two
          // parent ranges conservatively includes the clean gap — those
          // rows cancel in the JoinDiff, never a wrong answer)
          val runs = realDirty.foldLeft(Vector.empty[(Long, Long)]) {
            case (acc, s) if acc.nonEmpty && acc.last._2 == s - 1 =>
              acc.init :+ ((acc.last._1, s))
            case (acc, s) => acc :+ ((s, s))
          }
          var r = runs.map { case (s1, s2) =>
            val o1 = owner(s1)
            val o2 = owner(s2)
            (o1.rlo + (s1 - o1.base) * o1.width,
              math.min(o2.rlo + (s2 - o2.base + 1) * o2.width - 1, o2.rhi))
          }
          // cap the range count (CASE-chain size): merge the nearest
          // neighbours — conservative widening, never wrong
          while (r.size > MaxRanges) {
            val i = r.sliding(2).zipWithIndex.collect {
              case (Vector(a, b), j) => (b._1 - a._2, j)
            }.minBy(_._1)._2
            r = (r.take(i) :+ ((r(i)._1, r(i + 1)._2))) ++ r.drop(i + 2)
          }
          r
        case Some(_) =>
          // z space: each dirty id is one aligned cell; keep them as-is
          // (alignment is what makes the box pruning exact), cap by
          // COARSENING every cell to its parent until few enough
          var cells = realDirty.map { s =>
            val o = owner(s)
            (o.rlo + (s - o.base) * o.width,
              o.rlo + (s - o.base + 1) * o.width - 1)
          }.toVector
          while (cells.size > MaxRanges) {
            val w = cells.head._2 - cells.head._1 + 1
            val pw = w * Fanout
            cells = cells.map { case (l, _) =>
              val pl = (l / pw) * pw
              (pl, pl + pw - 1)
            }.distinct
          }
          cells
      }
      val estimate = realDirty.map(s =>
        math.max(sumA.get(s).map(_._2).getOrElse(0L),
          sumB.get(s).map(_._2).getOrElse(0L))).sum
      level += 1
      val refinable = ranges.exists { case (l, h) => h > l }
      continue = realDirty.nonEmpty && estimate > rowThreshold &&
        level < MaxLevels && refinable
    }

    if (ranges.isEmpty && !nullDirty)
      return Some(LayoutDiff(
        graft.diff.JoinDiffer.diff(emptyFrame(spark, dirA),
          emptyFrame(spark, dirB), keyCols, compareCols),
        filesReadA = readA.size, filesTotalA = totalA,
        filesReadB = readB.size, filesTotalB = totalB,
        segmentsTotal = lastObserved, segmentsDirty = 0,
        filesRowDiffedA = 0, filesRowDiffedB = 0, bisectLevels = level))

    // ---- the confined row-level diff ----------------------------------
    def hits(stats: Seq[(String, Seq[KeyStat])]): Seq[String] =
      stats.filter { case (_, s) => envHit(s, ranges, nullDirty) }
        .map(_._1).sorted
    val hitA = hits(statsA)
    val hitB = hits(statsB)
    val inRanges =
      if (ranges.isEmpty) lit(false)
      else ranges.map { case (l, h) => ordCol.between(l, h) }.reduce(_ || _)
    val rowPred =
      if (nullDirty) ordCol.isNull || coalesce(inRanges, lit(false))
      else coalesce(inRanges, lit(false))
    def sideDf(dir: String, v: Long, files: Seq[String]): DataFrame =
      if (files.isEmpty) emptyFrame(spark, dir)
      else withOrd(readMasked(spark, dir, files, v)).where(rowPred)
        .drop(OrdCol)
    Some(LayoutDiff(
      graft.diff.JoinDiffer.diff(sideDf(dirA, versionA, hitA),
        sideDf(dirB, versionB, hitB), keyCols, compareCols),
      filesReadA = readA.size, filesTotalA = totalA,
      filesReadB = readB.size, filesTotalB = totalB,
      segmentsTotal = lastObserved, segmentsDirty = lastDirty,
      filesRowDiffedA = hitA.size, filesRowDiffedB = hitB.size,
      bisectLevels = level))
  }

  /** `filesReadX` counts every file whose ROWS were read on side X
    * (checksum pass included); when bisection engaged, `filesRowDiffedX`
    * (−1 = no bisection ran) counts the subset that fed the row-level
    * JoinDiff and `segmentsDirty`/`segmentsTotal` report the FINAL
    * level's key-space resolution — rows shuffled into the diff are
    * ∝ dirty segments. `bisectLevels` counts the checksum levels run
    * (1 = no recursion was needed; 0 = bisection never engaged). */
  final case class LayoutDiff(df: DataFrame, filesReadA: Int,
      filesTotalA: Int, filesReadB: Int, filesTotalB: Int,
      segmentsTotal: Int = 0, segmentsDirty: Int = 0,
      filesRowDiffedA: Int = -1, filesRowDiffedB: Int = -1,
      bisectLevels: Int = 0)

  /** Row-level CHANGE FEED over `(fromVersion, toVersion]`: one row per
    * changed row per version STEP — `sign` ('-' left / '+' arrived), the
    * `version` that did it, then key + compare columns. The CDC read side
    * of the layout (Delta's table_changes / CDF), derived rather than
    * stored: each step v→v+1 goes through [[diffVersions]], so a step
    * reads ONLY the files present in exactly one of its two versions —
    * a feed over k steps costs the churn of those k steps, never k table
    * scans, and a file-moving-but-row-preserving step (compaction,
    * recluster) correctly contributes ZERO rows. */
  def changeFeed(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String],
      compareCols: Seq[String] = Nil): DataFrame = {
    require(fromVersion < toVersion,
      s"changeFeed needs fromVersion < toVersion: $fromVersion >= $toVersion")
    // BOUNDED PLANNING for long catch-ups: one O(files) manifest pass
    // decides every step's churn AND supplies the horizon/current-version
    // guards (the per-step [[diffVersions]] spelling paid two manifest
    // jobs per version; r19 also folds the currentVersion, vacuumHorizon
    // and second dvLog probes into the two collects here — a polling
    // consumer pays 2 metadata jobs per poll, not 7). Empty steps (txn
    // markers, schema sentinels) build no plan at all, and a contiguous
    // RUN of append-only steps collapses into ONE scan of the run's
    // added files with the version attributed per file — the dominant
    // catch-up shape (a streaming sink's backlog) plans O(runs), not
    // O(versions). Rewrite/DV steps keep the per-step JoinDiff at churn
    // cost.
    // the manifest replay (sentinels included — they carry the horizon
    // marker and version watermarks) and the DV replay feed everything
    // below, driver-side on either side of the size cap
    val m = manifestFold(spark, dir)
    val lives = m.entries.filterNot(_.sentinel)
    val dv = dvFold(spark, dir)
    // guards: current version (manifest + DV logs) and the vacuum horizon
    // marker — a feed below the horizon would reconstruct from vacuumed
    // files (negative fromVersion is the stream's synthetic initial
    // snapshot)
    val current = math.max(m.maxVersion, dv.maxVersion)
    require(toVersion <= current,
      s"toVersion $toVersion beyond the log's $current")
    val h = m.horizon
    require(math.max(fromVersion, 0L) >= h,
      s"changeFeed from version $fromVersion predates the vacuum horizon " +
        s"$h — those versions' files were physically removed")
    // files carrying DV positions at ANY version: their raw-byte
    // fingerprints say nothing about EFFECTIVE rows, so they never
    // participate in the fingerprint-cancel below (conservative —
    // version-insensitive on purpose)
    val dvdCanon: Set[String] = dv.filesAt(Latest)
    val fpByFile: Map[String, Option[(BigDecimal, Long)]] = lives.map(e =>
      e.file -> e.fingerprint.filterNot(_ => dvdCanon(canon(e.file)))).toMap
    // DV commits in range: version -> canonical files touched
    val dvCommits: Map[Long, Set[String]] = dv.entries
      .filter(e => e.v > fromVersion && e.v <= toVersion)
      .groupBy(_.v).map { case (v, es) => v -> es.map(_.file).toSet }
    // the feed-end schema pins every read: union consistency across steps,
    // and a column that arrived mid-range reads NULL on older sides
    val endSchema = schemaAt(spark, dir, toVersion)
    val allCols = endSchema.map(_.fieldNames.toSeq).getOrElse(
      spark.read.parquet(schemaAnchorFile(spark, dir)).schema.fieldNames.toSeq)
    val cmp =
      if (compareCols.nonEmpty) compareCols
      else allCols.filterNot(keyCols.contains)
    def emptySide: DataFrame = endSchema match {
      case Some(s) => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), s)
      case None =>
        spark.read.parquet(schemaAnchorFile(spark, dir)).where(lit(false))
    }
    final case class Step(v: Long, added: Seq[String], removed: Seq[String],
        dvFiles: Seq[String])
    // a rewrite step PROVEN row-preserving by the additive content
    // fingerprints (removed multiset sum == added sum, same row count,
    // every file fingerprinted and DV-free) contributes ZERO rows — it is
    // dropped BEFORE run detection, so compaction/recluster/bin-pack
    // versions neither build a plan nor break an append-only run: a
    // streaming sink's backlog WITH inline maintainEvery still collapses
    // into one scan. (Reading a run's files stays correct across a
    // dropped rewrite: a file compacted away later in the run is still on
    // disk until vacuum — the horizon guard above — and its rows were
    // attributed at their own append version; the compacted twin's files
    // are never read.) The same checksum-grade acceptance diffLayouts'
    // file fast path rests on; anything unprovable keeps its JoinDiff.
    def fpCancelled(s: Step): Boolean =
      s.dvFiles.isEmpty && s.added.nonEmpty && s.removed.nonEmpty &&
        fpUncancelled(s.removed.map(f => f -> fpByFile(f)),
          s.added.map(f => f -> fpByFile(f))) == ((Nil, Nil))
    val steps: Vector[Step] = (fromVersion + 1 to toVersion).map { v =>
      val added = lives.filter(_.added.contains(v)).map(_.file).sorted
      val removed = lives.filter(e => e.removed.contains(v) && e.aliveAt(v - 1))
        .map(_.file).sorted
      val dvf = dvCommits.getOrElse(v, Set.empty)
      val shared =
        if (dvf.isEmpty) Nil
        else lives.filter(e => e.aliveAt(v - 1) && e.aliveAt(v)).map(_.file)
          .filter(f => dvf(canon(f))).sorted
      Step(v, added, removed, shared)
    }.filter(s => s.added.nonEmpty || s.removed.nonEmpty || s.dvFiles.nonEmpty)
      .filterNot(fpCancelled)
      .toVector
    val plans = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def appendOnly(s: Step) = s.removed.isEmpty && s.dvFiles.isEmpty
    def dvOnly(s: Step) = s.added.isEmpty && s.removed.isEmpty &&
      s.dvFiles.nonEmpty
    var i = 0
    while (i < steps.length) {
      val s = steps(i)
      if (appendOnly(s)) {
        var j = i
        while (j + 1 < steps.length && appendOnly(steps(j + 1))) j += 1
        val run = steps.slice(i, j + 1)
        // every row of an appended file is a '+' at the file's version —
        // the old row of an updated key lives in a file alive in BOTH
        // versions and correctly never reads (same as the JoinDiff
        // against an empty left side). Versions attribute per file via a
        // broadcast O(files) lookup; no mask applies (a DV inside the run
        // would have made its step non-append-only, earlier DVs cannot
        // address these then-nonexistent files, later ones are later
        // versions' changes).
        import spark.implicits._
        val lookup = run.flatMap(r => r.added.map(f => (canon(f), r.v)))
          .toDF("_cf", "version")
        val rows = readerFor(spark, endSchema)
          .parquet(run.flatMap(_.added): _*)
          .withColumn("_cf", canonCol(col("_metadata.file_path")))
          .join(broadcast(lookup), Seq("_cf"))
        plans += rows.select(
          (lit("+").as("sign") +: (keyCols ++ cmp).map(col)) :+
            col("version"): _*)
        i = j + 1
      } else if (dvOnly(s)) {
        // a contiguous RUN of DV-only steps (the nightly-deletes history)
        // collapses into ONE masked-coordinate join instead of one
        // JoinDiff per version: a DV step's change set IS its DV rows —
        // each masked position was visible at v−1 and gone at v, no file
        // moved — so one read of the run's touched files joined against
        // the run's (file, pos, v) coordinates yields every '-' row with
        // its version attributed by the DV log itself. Positions are
        // monotone (a masked row never re-matches a later delete), so a
        // coordinate appears once per run; lingering vacuum-compaction
        // duplicates collapse via dropDuplicates. O(runs) planning for a
        // DV-heavy catch-up, same rows as the per-step JoinDiff spelling.
        var j = i
        while (j + 1 < steps.length && dvOnly(steps(j + 1))) j += 1
        val run = steps.slice(i, j + 1)
        val files = run.flatMap(_.dvFiles).distinct.sorted
        val dvRun = dvLog(spark, dir).get
          .where(col("v") > run.head.v - 1 && col("v") <= run.last.v)
          .select(canonCol(col("file")).as("_dv_f"),
            col("pos").as("_dv_p"), col("v").as("version"))
          .dropDuplicates("_dv_f", "_dv_p", "version")
        val rows = readWithMeta(spark, files, endSchema)
          .join(dvRun, col(MetaFile) === col("_dv_f") &&
            col(MetaPos) === col("_dv_p"))
        plans += rows.select(
          (lit("-").as("sign") +: (keyCols ++ cmp).map(col)) :+
            col("version"): _*)
        i = j + 1
      } else {
        // rewrite step (possibly with DVs riding the same version): both
        // sides at churn cost, masked at their own versions, read under
        // the feed-end schema; the DV'd-file partition comes from the
        // planning probe, not a per-step collect
        def side(files: Seq[String], v: Long): DataFrame =
          if (files.isEmpty) emptySide
          else readMasked(spark, dir, files, v, endSchema,
            dvCanonKnown = Some(dv.filesAt(v)))
        plans += graft.diff.JoinDiffer.diff(
          side(s.removed ++ s.dvFiles, s.v - 1),
          side(s.added ++ s.dvFiles, s.v), keyCols, cmp)
          .withColumn("version", lit(s.v))
        i += 1
      }
    }
    if (plans.isEmpty)
      emptySide.select((lit("+").as("sign") +: (keyCols ++ cmp).map(col)) :+
        lit(0L).as("version"): _*).where(lit(false))
    else plans.reduce(_.unionByName(_))
  }

  /** Re-cluster the ENTIRE layout by NEW dimensions as one new version —
    * the OPTIMIZE ZORDER BY (new dims) migration when query patterns
    * change. A full rewrite by construction (every row can move), priced
    * accordingly: one range exchange over the whole table. History stays
    * readable until [[vacuum]]; `statsCols` may differ from the previous
    * layout's (tombstones keep their old stats schema — the log merges). */
  def recluster(spark: SparkSession, dir: String, dims: Seq[Column],
      bits: Int, statsCols: Seq[String], numFiles: Int): ReclusterReport = {
    require(numFiles >= 1, s"numFiles must be >= 1: $numFiles")
    val aliveDf = aliveManifest(spark, dir)
    val files = aliveDf.select("file")
      .collect().map(_.getString(0)).toSeq.sorted // O(files): paths only
    require(files.nonEmpty, s"layout at $dir has no alive files to recluster")
    val v = currentVersion(spark, dir) + 1
    val data = readMasked(spark, dir, files, Latest) // full rewrite purges DVs
    statsCols.foreach(c => require(data.columns.contains(c),
      s"stats column '$c' not in ${data.columns.mkString(",")}"))
    val fresh = stageRename(spark, dir, s"$dir/_graft_recluster_${java.util.UUID.randomUUID.toString.take(8)}_stage",
      s"recluster_v$v", data, numFiles, dims, bits, statsCols)
    def rowsAt(ver: Long): DataFrame = {
      val tomb = tombstones(aliveDf, files, ver)
      fresh.at(spark, ver)
        .map(_.unionByName(tomb, allowMissingColumns = true)).getOrElse(tomb)
    }
    commitRewriteWithRetry(spark, dir, files, v - 1, rowsAt, v)
    ReclusterReport(filesBefore = files.size, filesAfter = fresh.size)
  }

  final case class ReclusterReport(filesBefore: Int, filesAfter: Int)

  // ---- manifest-only table stats -----------------------------------------

  /** Table-level statistics at `version` answered ENTIRELY from the
    * manifest — O(files) stats rows, zero data I/O: exact row count
    * (sum of per-file counts), exact per-column min/max (min of mins /
    * max of maxs) and null counts (sums), plus an NDV estimate from the
    * union of the per-file HLL sketches (union-mergeable by
    * construction, so the estimate equals what one global sketch over
    * the data would give — the property per-file `approx_count_distinct`
    * numbers don't have). On a 100 TB table this is the difference
    * between a metadata lookup and a full scan for COUNT(*)-class
    * questions; it's also the stats feed for join-strategy and
    * diff-estimate decisions.
    *
    * Returns one row: `n_rows`, then per stats column `min_c`, `max_c`,
    * `nulls_c`, `ndv_c`, then `content_fp` — the TABLE-level content
    * fingerprint (sum of the per-file fingerprints: additive, so it
    * equals what one pass over the data would give), the etag a
    * replication pipeline compares across snapshots without reading a
    * row. NULL when unknown: any alive file predating the fingerprint
    * column, or outstanding deletion vectors (bytes ≠ effective rows). */
  def tableStatsFromManifest(spark: SparkSession, dir: String,
      version: Long = Latest): DataFrame = {
    val alive = aliveManifest(spark, dir, version)
    val cols = alive.columns.toSet
    val statNames = alive.columns.collect { case c if c.startsWith("min_") =>
      c.stripPrefix("min_") }.toSeq.sorted
    // a manifest written before the nulls_/hll_ schema extension (or a
    // log mixing pre- and post-extension files under mergeSchema) reads
    // NULL in those columns for the old rows — the additive stats then
    // report NULL ("unknown") instead of a silent undercount. A file
    // whose column is entirely null legitimately has a NULL sketch
    // (hll_sketch_agg over zero non-null inputs); that is completeness,
    // not a gap, hence the nulls_c = n_rows escape in the sketch guard.
    val aggs = Seq(sum(col("n_rows")).as("n_rows")) ++ statNames.flatMap { c =>
      val nullsAgg =
        if (!cols(s"nulls_$c")) lit(null).cast("long").as(s"nulls_$c")
        else when(bool_and(col(s"nulls_$c").isNotNull),
          sum(col(s"nulls_$c"))).as(s"nulls_$c")
      val ndvAgg =
        if (!cols(s"hll_$c")) lit(null).cast("long").as(s"ndv_$c")
        else when(
          bool_and(coalesce(col(s"hll_$c").isNotNull ||
            col(s"nulls_$c") === col("n_rows"), lit(false))),
          coalesce(hll_sketch_estimate(
            hll_union_agg(col(s"hll_$c"), lit(true))), lit(0L)))
          .as(s"ndv_$c")
      Seq(min(col(s"min_$c")).as(s"min_$c"), max(col(s"max_$c")).as(s"max_$c"),
        nullsAgg, ndvAgg)
    } :+ (if (!cols("content_fp"))
        lit(null).cast(org.apache.spark.sql.types.DecimalType(38, 0))
          .as("content_fp")
      else when(bool_and(col("content_fp").isNotNull), sum(col("content_fp")))
        .as("content_fp"))
    // deletion vectors: n_rows stays EXACT by subtracting the version's
    // masked positions on alive files (per-file counts are exact, DV rows
    // are exact coordinates). min/max/nulls/ndv remain FILE-level figures —
    // valid conservative bounds (that is their pruning job) that tighten
    // back to exact when a purge rewrites the DV'd files.
    val dvDeleted: Long = dvLogDeduped(spark, dir)
        .map(_.where(col("v") <= version)) match {
      case None => 0L
      case Some(d) =>
        d.join(alive.select(canonCol(col("file")).as("_alive_f")),
          canonCol(col("file")) === col("_alive_f"), "left_semi").count()
    }
    alive.agg(aggs.head, aggs.tail: _*)
      .withColumn("n_rows", col("n_rows") - lit(dvDeleted))
      // outstanding DVs: the recorded per-file fingerprints describe the
      // BYTES, not the effective rows — report unknown, never a lie
      .withColumn("content_fp",
        when(lit(dvDeleted) > 0, lit(null)).otherwise(col("content_fp")))
  }

  // ---- merge (upsert) ----------------------------------------------------

  /** MERGE INTO for clustered layouts — the CDC upsert: rows of `delta`
    * whose `keyCols` match an existing row REPLACE it; unmatched delta
    * rows INSERT. Only files whose min/max envelopes on EVERY
    * stats-covered key column can contain a delta key are rewritten — on
    * a layout clustered by the merge key, a day's CDC batch touches the
    * few files its keys land in, not the 100 TB table (Delta's MERGE does
    * the same file pruning from its stats). Intersecting all key columns'
    * envelopes (not just the first) keeps the rewrite set tight when the
    * leading key of a composite key is unselective.
    *
    * Mechanics: the file-targeting test joins the O(files) manifest stats
    * against the delta's DISTINCT keys on a between-range condition (the
    * stats side broadcasts; one pass over the delta — no row data to the
    * driver). Hit files are read once; their matched rows drop via one
    * anti join against the delta keys, and survivors + the whole delta
    * are re-clustered into `numFiles` fresh files in one range exchange.
    * Hit files are TOMBSTONED, so the pre-merge version stays readable
    * until [[vacuum]].
    *
    * Contract: delta keys must be UNIQUE (two delta rows for one key have
    * no defined winner — refused loudly, one agg over the delta), and the
    * first key column must be in the manifest's statsCols.
    *
    * `deleteKeys` (optional) is the CDC tombstone side: rows matching any
    * of those keys are REMOVED in the same pass — one combined file
    * targeting, one rewrite, one new version, which is how a CDC batch
    * (upserts + deletes) must land atomically. A key in both the delta
    * and `deleteKeys` is refused: the caller owns last-event-wins
    * resolution, not this operator. */
  def mergeInto(spark: SparkSession, dir: String, dims: Seq[Column],
      bits: Int, statsCols: Seq[String], delta: DataFrame,
      keyCols: Seq[String], numFiles: Int,
      deleteKeys: Option[DataFrame] = None): MergeReport = {
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    require(numFiles >= 1, s"numFiles must be >= 1: $numFiles")
    keyCols.foreach(k => require(delta.columns.contains(k),
      s"key column '$k' not in delta schema ${delta.columns.mkString(",")}"))
    deleteKeys.foreach(dk => require(dk.columns.sorted.sameElements(keyCols.sorted),
      s"deleteKeys must carry exactly the key columns ${keyCols.sorted.mkString(",")}"))
    val m = manifestFold(spark, dir)
    val alive = m.aliveAt(dir, Latest)
    val aliveDf = m.frame(spark, alive)
    val envKey = keyCols.head
    requireStats(aliveDf, Seq((envKey, null, null)))
    val layoutCols = schemaFor(spark, dir).fieldNames
    require(delta.columns.sorted.sameElements(layoutCols.sorted),
      s"delta schema ${delta.columns.sorted.mkString(",")} != layout schema " +
        layoutCols.sorted.mkString(","))
    // pin the delta ONCE: it is consulted three times (duplicate-key
    // check, counts, the merged write), and a nondeterministic or
    // concurrently-changing source must not pass validation on one
    // evaluation and write different rows on another
    val d = delta.localCheckpoint(true)
    Constraints.enforce(spark, dir, d, "mergeInto") // upserts only; deletes add no rows
    // ONE keyed pass derives everything the bookkeeping needs: per-key
    // upsert/delete row counts in a single checkpointed O(keys) frame,
    // from which the delta row count, the duplicate-key verdict, the
    // upsert∩delete ambiguity refusal and both key sets all read without
    // re-deriving anything (the r19 shape spent four actions here: a
    // keyCounts checkpoint, its stats agg, a deleteKeys distinct
    // checkpoint, and a semi-join emptiness probe).
    val kUp = "_graft_upc"
    val kDel = "_graft_delc"
    val isDel = "_graft_is_del"
    val upTagged = d.select(keyCols.map(col): _*).withColumn(isDel, lit(false))
    val keyTags = deleteKeys.fold(upTagged)(dk =>
        upTagged.unionByName(dk.select(keyCols.map(col): _*)
          .withColumn(isDel, lit(true))))
      .groupBy(keyCols.map(col): _*)
      .agg(count(when(!col(isDel), lit(1))).as(kUp),
        count(when(col(isDel), lit(1))).as(kDel))
      .localCheckpoint(true)
    val kstats = keyTags.agg(sum(col(kUp)), max(col(kUp)),
      count(when(col(kUp) > 0 && col(kDel) > 0, lit(1)))).head()
    val deltaCount = if (kstats.isNullAt(0)) 0L else kstats.getLong(0)
    require(kstats.isNullAt(1) || kstats.getLong(1) <= 1L,
      "mergeInto delta has duplicate keys — no defined winner; dedupe first")
    require(kstats.getLong(2) == 0L,
      "a key appears in both the upsert delta and deleteKeys — resolve " +
        "last-event-wins upstream; this operator refuses the ambiguity")
    val allKeys = keyTags.select(keyCols.map(col): _*)
    val aliveCount = alive.length
    // file targeting: a file can hold a composite key iff EVERY key
    // column's [min, max] envelope admits that key's value — intersecting
    // all stats-covered key columns, not just the first (a first key that
    // is unselective in a composite key would otherwise hit nearly every
    // file). The stats side is O(files) rows and broadcast; a key column
    // whose stats were never recorded for a file (statsCols drift) reads
    // as "may hold" for that file, never as "cannot".
    val mCols = aliveDf.columns.toSet
    val envKeys = keyCols.filter(k => mCols(s"min_$k"))
    val statsSide = broadcast(aliveDf.select(col("file") +: envKeys.flatMap(k =>
      Seq(col(s"min_$k").as(s"_lo_$k"), col(s"max_$k").as(s"_hi_$k"),
        statsUnrecorded(mCols, k).as(s"_unrec_$k"))): _*))
    val hitCond = envKeys.map(k =>
      coalesce(col(s"_k_$k") >= col(s"_lo_$k") && col(s"_k_$k") <= col(s"_hi_$k"),
        lit(false)) || col(s"_unrec_$k")).reduce(_ && _)
    val hit = statsSide
      .join(allKeys.select(envKeys.map(k => col(k).as(s"_k_$k")): _*), hitCond)
      .select("file").distinct()
      .collect().map(_.getString(0)).toSeq.sorted // O(files): paths only
    val v = currentVersion(spark, dir) + 1
    // updated = table rows replaced; matchedKeys = delta keys that found a
    // row (the two differ if the table carried duplicate keys), so
    // inserted = deltaCount - matchedKeys can never go negative
    val (survivors, updated, matchedKeys, deleted) =
      if (hit.isEmpty) (d.where(lit(false)), 0L, 0L, 0L)
      else {
        // masked: a soft-deleted row must not resurrect as a survivor or
        // count as a match; the rewrite purges the hit files' DVs for good
        val hitData = readMasked(spark, dir, hit, Latest).localCheckpoint(false)
        // ONE action for all three report counts (was three semi-join
        // counts over the same hit rows): per-key hit counts inner-joined
        // to the keyTags frame — matched rows = sum of hit counts on
        // upsert keys, matched KEYS = joined upsert keys (keyTags is one
        // row per key), deleted = sum on delete keys. Null keys never
        // join, same as the semi joins they replace. After the ambiguity
        // refusal above, a delete key is exactly a key with no upsert rows.
        val del = isDel
        val tagged = keyTags.select(
          keyCols.map(col) :+ (col(kDel) > 0).as(del): _*)
        val hc = "_graft_hc"
        val st = hitData.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as(hc))
          .join(tagged, keyCols, "inner")
          .agg(sum(when(!col(del), col(hc))),
            count_if(!col(del)),
            sum(when(col(del), col(hc)))).head()
        def z(i: Int) = if (st.isNullAt(i)) 0L else st.getLong(i)
        (hitData.join(allKeys, keyCols, "left_anti"), z(0), z(1), z(2))
      }
    val merged = survivors.select(layoutCols.map(col): _*)
      .unionByName(d.select(layoutCols.map(col): _*))
    // a pure-delete batch can leave zero merged rows, hence zero files —
    // stageRename drops the writer's schema-only empty part file rather
    // than committing an unmanifested orphan
    val fresh = stageRename(spark, dir, s"$dir/_graft_merge_${java.util.UUID.randomUUID.toString.take(8)}_stage",
      s"merge_v$v", merged, numFiles, dims, bits, statsCols)
    val tomb = tombstones(aliveDf, hit, v)
    appendLog(dir, fresh.at(spark, v)
      .map(_.unionByName(tomb, allowMissingColumns = true)).getOrElse(tomb), v)
    MergeReport(filesRewritten = hit.size, rowsUpdated = updated,
      rowsInserted = deltaCount - matchedKeys, rowsDeleted = deleted,
      filesTotalAfter = aliveCount - hit.size + fresh.size)
  }

  final case class MergeReport(filesRewritten: Int, rowsUpdated: Long,
      rowsInserted: Long, rowsDeleted: Long, filesTotalAfter: Int)

  // ---- bloom file index --------------------------------------------------

  /** Name of the hidden per-column Bloom-index directory under a layout. */
  val BloomDir = "_graft_bloom"

  private def bloomPath(dir: String, column: String) =
    s"$dir/$BloomDir/$column"

  /** Per-row Bloom bit positions for `c`: `numHashes` independent draws of
    * `pmod(xxhash64(c, seed), numBits)`. Pure builtins, so the SAME
    * expression computes the key side at scan time — build and probe can
    * never disagree on a hash. */
  private def bloomPositions(c: Column, numBits: Int, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      pmod(xxhash64(c, lit(i)), lit(numBits.toLong))): _*)

  /** Build (or incrementally extend) a per-FILE Bloom index over `column`.
    *
    * This is the skip lever the min/max envelope cannot give: a point
    * lookup on a column UNCORRELATED with the clustering dimensions (find
    * order 17 in a table z-ordered by (customer, price)) intersects every
    * file's [min, max] — but a per-file Bloom filter answers "could this
    * file contain key k" in O(numHashes) bit tests, no file I/O. Parquet
    * row-group blooms do this inside one file; at 100 TB you need it
    * BEFORE opening 1M footers, i.e. in the manifest layer — the same
    * design as Delta/Iceberg file-level bloom stats.
    *
    * The build is one pass over UNINDEXED alive files only (cost ∝ delta
    * after an append, like the manifest itself): explode each row's
    * `numHashes` positions, split into (word, bit), `bit_or` the masks
    * per (file, word) — partial-aggregated map-side, so the shuffle
    * carries at most `files × numBits/64` rows — and assemble the dense
    * `Array[Long]` per file. No UDF, no custom expression, no driver-side
    * row data; whole-stage codegen end to end.
    *
    * Sizing: `numBits` is per FILE. At the default 8192 bits (1 KiB) a
    * 100k-row file with 4 hashes sits near the classic 1% false-positive
    * regime at ~2 bits/key — callers with bigger files raise `numBits`
    * (the report carries the observed fill fraction so the choice is
    * measurable, not guessed).
    */
  def buildBloomIndex(spark: SparkSession, dir: String, column: String,
      numBits: Int = 8192, numHashes: Int = 4): BloomIndexReport = {
    require(numBits >= 64 && numBits % 64 == 0,
      s"numBits must be a positive multiple of 64: $numBits")
    require(numHashes >= 1 && numHashes <= 16,
      s"numHashes out of range: $numHashes")
    val fs = fsOf(spark, dir)
    val idxPath = new org.apache.hadoop.fs.Path(bloomPath(dir, column))
    val alive = aliveManifest(spark, dir).select("file")
      .collect().map(_.getString(0)).toSeq.sorted
    val indexed: Set[String] =
      if (!fs.exists(idxPath)) Set.empty
      else {
        val idx = spark.read.parquet(idxPath.toString)
        val head = idx.select("num_bits", "num_hashes").head()
        require(head.getInt(0) == numBits && head.getInt(1) == numHashes,
          s"bloom index at $idxPath was built with numBits=${head.getInt(0)} " +
            s"numHashes=${head.getInt(1)}; rebuild from scratch to change params")
        idx.select("file").collect().map(r => canon(r.getString(0))).toSet
      }
    val todo = alive.filterNot(f => indexed(canon(f)))
    if (todo.isEmpty)
      return BloomIndexReport(filesIndexed = 0, filesTotal = alive.size)
    val numWords = numBits / 64
    val data = spark.read.parquet(todo: _*)
    require(data.columns.contains(column),
      s"column '$column' not in layout schema ${data.columns.mkString(",")}")
    val masks = data
      .select(input_file_name().as("file"),
        explode(bloomPositions(col(column), numBits, numHashes)).as("pos"))
      .select(col("file"),
        (col("pos") / 64).cast("int").as("word"),
        pmod(col("pos"), lit(64L)).cast("int").as("bit"))
      .groupBy("file", "word")
      .agg(bit_or(call_function("shiftleft", lit(1L), col("bit"))).as("mask"))
      .groupBy("file")
      .agg(map_from_entries(collect_list(struct(col("word"), col("mask"))))
        .as("m"))
      .select(col("file"),
        transform(sequence(lit(0), lit(numWords - 1)),
          i => coalesce(element_at(col("m"), i), lit(0L))).as("bloom"),
        lit(numBits).as("num_bits"), lit(numHashes).as("num_hashes"))
    masks.write.mode("append").parquet(idxPath.toString)
    BloomIndexReport(filesIndexed = todo.size, filesTotal = alive.size)
  }

  final case class BloomIndexReport(filesIndexed: Int, filesTotal: Int)

  /** Columns carrying a Bloom index, with the params they were built at —
    * discovered from the hidden index dirs, O(columns) head reads. */
  def bloomIndexedColumns(spark: SparkSession,
      dir: String): Seq[(String, Int, Int)] = {
    val fs = fsOf(spark, dir)
    val root = new org.apache.hadoop.fs.Path(s"$dir/$BloomDir")
    if (!fs.exists(root)) return Nil
    fs.listStatus(root)
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_stage_"))
      .map(_.getPath).sortBy(_.getName).toSeq.flatMap { p =>
        // crash residue of a refresh swap: a zero-ROW dir reads empty, a
        // zero-FILE dir throws UNABLE_TO_INFER_SCHEMA — both mean absent
        scala.util.Try(
          spark.read.parquet(p.toString).select("num_bits", "num_hashes")
            .head(1).headOption).toOption.flatten
          .map(h => (p.getName, h.getInt(0), h.getInt(1)))
      }
  }

  final case class BloomRefresh(column: String, filesIndexed: Int,
      staleDropped: Long)

  /** Bring every Bloom index back in step with the alive file set: drop
    * rows for files rewrites have tombstoned (the index otherwise grows
    * without bound) and extend over files not yet covered — both at
    * delta cost. A stale index is never WRONG (uncovered files always
    * read), so this is pruning restoration + hygiene, the natural tail of
    * a maintenance pass. The stale-drop swaps through a stage dir: a
    * crash leaves either the old index (fine) or none (bloomScan refuses
    * loudly; re-run to rebuild) — never a torn one. */
  def refreshBloomIndexes(spark: SparkSession, dir: String): Seq[BloomRefresh] =
    bloomIndexedColumns(spark, dir).map { case (c, numBits, numHashes) =>
      val idxPath = new org.apache.hadoop.fs.Path(bloomPath(dir, c))
      val fs = fsOf(spark, dir)
      val aliveNames = aliveManifest(spark, dir)
        .select(canonCol(col("file")).as("_f")).distinct()
      val idx = spark.read.parquet(idxPath.toString).localCheckpoint(true)
      val total = idx.count()
      val keep = idx.join(broadcast(aliveNames),
        canonCol(idx("file")) === aliveNames("_f"), "left_semi")
        .localCheckpoint(true) // pin BEFORE touching the dir it reads from
      val stale = total - keep.count()
      if (stale == total) {
        // every indexed file was rewritten: drop the dir outright and let
        // the build below start from scratch (a zero-ROW index dir would
        // read as present-but-paramless)
        fs.delete(idxPath, true)
      } else if (stale > 0L) {
        val stage = new org.apache.hadoop.fs.Path(s"$dir/$BloomDir/_stage_$c")
        keep.write.mode("overwrite").parquet(stage.toString)
        fs.delete(idxPath, true)
        require(fs.rename(stage, idxPath), s"bloom swap failed: $stage -> $idxPath")
      }
      val r = buildBloomIndex(spark, dir, c, numBits, numHashes)
      BloomRefresh(c, r.filesIndexed, stale)
    }

  /** Point-lookup scan through the Bloom index: read only alive files
    * whose filter admits AT LEAST ONE of `keys`, then apply the exact
    * `IN` predicate row-level (blooms admit false positives, never false
    * negatives). Files the index does not cover — e.g. fresh appends
    * since the last [[buildBloomIndex]] — are always read, so a stale
    * index degrades to extra I/O, never to a wrong answer.
    *
    * The membership test runs as a DataFrame filter over the manifest ×
    * index join (O(files) stats rows; row data and bloom blobs never
    * reach the driver — only surviving file NAMES do, the same bound as
    * [[skipScan]]). Key positions are computed by the very expression the
    * build used, over a literal one-row-per-key frame, with the keys cast
    * to the column's on-disk type first — an int-literal probe of a long
    * column must hash the long. */
  /** Per-file bloom VERDICTS for `keys` on `column`: (kept file names —
    * admitted or unindexed — , skipped count, unindexed count); None when
    * the column carries no index or the layout has no alive files.
    * Shared by [[bloomScan]] and the DML candidate prefilter. */
  private[graft] def bloomKeptFiles(spark: SparkSession, dir: String,
      column: String, keys: Seq[Any], version: Long = Latest)
      : Option[(Seq[String], Int, Int)] = {
    val idxDir = bloomPath(dir, column)
    if (!fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(idxDir)))
      return None
    val alive = aliveManifest(spark, dir, version).select("file")
    if (alive.head(1).isEmpty) return Some((Nil, 0, 0))
    // failure-safe: this feeds the DML candidate PREFILTER, where a bloom
    // index that cannot be consulted (crash-residue dir with no readable
    // parquet, a probe-type mismatch) must mean "prune nothing" — the
    // full-scan pass 2 stays correct — never a crashed UPDATE/DELETE.
    // bloomScan, the explicit point-lookup API, still throws loudly.
    scala.util.Try(bloomVerdicts(spark, dir, idxDir, alive, column, keys))
      .getOrElse(None)
  }

  def bloomScan(spark: SparkSession, dir: String, column: String,
      keys: Seq[Any], version: Long = Latest): BloomScan = {
    require(keys.nonEmpty && !keys.contains(null),
      "bloomScan needs at least one non-null key")
    val idxDir = bloomPath(dir, column)
    require(fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(idxDir)),
      s"no bloom index for column '$column' at $dir — run buildBloomIndex first")
    val alive = aliveManifest(spark, dir, version).select("file")
    val firstAlive = alive.head(1) // empty-safe: a fully-deleted layout
    if (firstAlive.isEmpty)
      return BloomScan(emptyFrame(spark, dir).where(lit(false)),
        filesRead = 0, filesSkipped = 0, filesUnindexed = 0)
    val (kept, skipped, unindexed) =
      bloomVerdicts(spark, dir, idxDir, alive, column, keys).get
    val colType = schemaFor(spark, dir)(column).dataType
    val typedKeys = keys.map(k => lit(k).cast(colType))
    val df = readMasked(spark, dir, kept.toIndexedSeq, version)
      .where(col(column).isin(typedKeys: _*))
    BloomScan(df, filesRead = kept.length, filesSkipped = skipped,
      filesUnindexed = unindexed)
  }

  private def bloomVerdicts(spark: SparkSession, dir: String, idxDir: String,
      alive: DataFrame, column: String, keys: Seq[Any])
      : Option[(Seq[String], Int, Int)] = {
    val idx = spark.read.parquet(idxDir)
    val headRows = idx.select("num_bits", "num_hashes").head(1)
    if (headRows.isEmpty) return None // crash residue of a refresh swap
    val (numBits, numHashes) = (headRows(0).getInt(0), headRows(0).getInt(1))
    // the LAYOUT schema, not one arbitrary file's footer: on an evolved
    // layout a file predating `column` has no such footer field and the
    // probe cast must still hash the column's effective on-disk type
    val colType = schemaFor(spark, dir)(column).dataType
    // the probe side: ONE ROW PER KEY carrying its bit positions, computed
    // by the very expression the build used, then tested against each
    // file's filter as a broadcast semi join. (A literal boolean tree of
    // keys × hashes element_at nodes would drive Catalyst analysis and
    // generated-code size past its limits for realistic point-lookup
    // batches; the join form keeps the PLAN O(1) no matter the batch.)
    val keyPos = spark.range(1)
      .select(explode(array(keys.map(k => lit(k).cast(colType)): _*)).as("k"))
      .select(bloomPositions(col("k"), numBits, numHashes).as("pos"))
    // word/bit split mirrors the build exactly: word = (p / 64) as int,
    // bit = pmod(p, 64) as int, mask = shiftleft(1L, bit)
    val admitsAll = forall(col("pos"), p =>
      element_at(col("bloom"), (p / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pmod(p, lit(64L)).cast("int"))) =!= 0)
    val admitted = idx.select(col("file"), col("bloom"))
      .join(broadcast(keyPos), admitsAll, "left_semi")
      .select(col("file"), lit(true).as("_admit"))
    val verdicts = alive
      .join(idx.select(col("file"), lit(true).as("_indexed")), Seq("file"), "left")
      .join(admitted, Seq("file"), "left")
      .select(col("file"), col("_indexed").isNull.as("unindexed"),
        (col("_indexed").isNull || col("_admit").isNotNull).as("keep"))
      .collect() // O(files): names + two booleans, never blobs or rows
    val kept = verdicts.filter(_.getBoolean(2)).map(_.getString(0)).toSeq
    val unindexed = verdicts.count(_.getBoolean(1))
    Some((kept, verdicts.length - kept.length, unindexed))
  }

  final case class BloomScan(df: DataFrame, filesRead: Int,
      filesSkipped: Int, filesUnindexed: Int)
}

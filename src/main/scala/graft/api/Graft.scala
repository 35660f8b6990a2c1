package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.diff.{HashDiffer, JoinDiffer, TableSegment}

/** Public API mirroring the reference's `connect_to_table` / `diff_tables`
  * surface (reference: data_diff/__init__.py:14-180), Spark-style: a source
  * is anything Spark can read, the result is a DataFrame of signed rows.
  */
object Graft {

  sealed trait Algorithm
  object Algorithm {
    /** joindiff when both sides share storage locality, hashdiff when diffs
      * are expected to be rare (reference AUTO: joindiff iff same database). */
    case object Auto extends Algorithm
    case object JoinDiff extends Algorithm
    case object HashDiff extends Algorithm
    /** Measure, then choose: sample-diff both sides (DiffEstimate —
      * deterministic md5-48 key sample, Wilson-bounded) and run joindiff
      * when the sampled rate says the table differs ~everywhere,
      * hashdiff when diffs are sparse enough that checksum pruning wins.
      * The evidence-based Auto, costing one sampled pre-pass of
      * ~n/estimateMod rows per side. */
    case object Estimate extends Algorithm
  }

  final case class DiffOptions(
      algorithm: Algorithm = Algorithm.Auto,
      /** HashDiff bucket-level size; `HashDiffer.Auto` (the default)
        * derives it from a cheap count via the reference heuristic
        * clamp(rows/250k, 2, 128). */
      buckets: Int = graft.diff.HashDiffer.Auto,
      extraCols: Seq[String] = Nil,
      /** Columns excluded from comparison mid-flight — the reference's
        * `ignore_column` re-plan (reference: diff_tables.py:196-199). */
      ignoreColumns: Seq[String] = Nil,
      /** Columns compared under JSON equivalence: key order and whitespace
        * differences are not diffs (reference: utils.py:515-536). */
      jsonColumns: Seq[String] = Nil,
      /** Per-column ABSOLUTE numeric tolerance: |a−b| ≤ ε is unchanged
        * (float-drift suppression — beyond the reference). Requires the
        * row-level join compare: hashdiff checksums cannot compare within
        * an epsilon, so Auto/Estimate force JoinDiff and an explicit
        * HashDiff choice is refused loudly. */
      tolerances: Map[String, Double] = Map.empty,
      /** Per-column RELATIVE tolerance: combined envelope
        * |a−b| ≤ atol + rtol·max(|a|,|b|) (isclose shape; see
        * JoinDiffer.flagged for the near-zero pitfall). */
      relTolerances: Map[String, Double] = Map.empty,
      validateKeys: Boolean = true,
      /** Algorithm.Estimate knobs: sample 1/estimateMod of the key space;
        * at/above denseMilliCutoff thousandths of sampled keys differing,
        * the dense join wins (see DiffEstimate.estimate). */
      estimateMod: Long = 1024L,
      denseMilliCutoff: Long = 50L)

  /** Build a diff-scoped segment from any Spark-readable source:
    * "format:path" (parquet/csv/json/orc), "jdbc:<url>#<table>" (Spark's
    * JDBC reader — filters and projections push down; for heavy remote
    * tables prefer pushdown mode, which ships checksums instead of rows),
    * a bare path (parquet), or a catalog table name. */
  def connectToTable(spark: SparkSession, source: String, keyCols: Seq[String],
      extraCols: Seq[String] = Nil): TableSegment = {
    val df =
      if (source.startsWith("jdbc:") && source.contains("#")) {
        // the JDBC url itself contains colons, so the table rides after the
        // LAST '#' (fragments are not part of JDBC urls)
        val i = source.lastIndexOf('#')
        spark.read.format("jdbc")
          .option("url", source.substring(0, i))
          .option("dbtable", source.substring(i + 1))
          .load()
      } else source.split(":", 2) match {
        case Array("csv", path) =>
          spark.read.option("header", "true").option("inferSchema", "true").csv(path)
        case Array(fmt, path) if Seq("parquet", "json", "orc").contains(fmt) =>
          spark.read.format(fmt).load(path)
        case _ if source.contains("/") => spark.read.parquet(source)
        case _ => spark.table(source)
      }
    TableSegment(df, keyCols, extraCols)
  }

  /** Diff two segments → DataFrame of ('-'/'+', key..., cols...) rows. */
  def diffTables(a: TableSegment, b: TableSegment,
      opts: DiffOptions = DiffOptions()): DataFrame = {
    require(a.keyCols == b.keyCols, "both sides must use the same key columns")
    // cheap option-consistency refusals FIRST: a guaranteed-to-fail call
    // must not pay validateKeys' count-distinct scans before erroring
    require((opts.tolerances.isEmpty && opts.relTolerances.isEmpty) ||
        opts.algorithm != Algorithm.HashDiff,
      "tolerances need the row-level join compare: a hashdiff checksum " +
        "cannot compare within an epsilon. Use Algorithm.JoinDiff (or Auto).")
    // column-name matching follows the session's resolution rules: Spark
    // resolves case-insensitively unless spark.sql.caseSensitive=true, and
    // the reference's schemas are CaseInsensitiveDicts unless
    // --case-sensitive (data_diff/utils.py:73-117) — a JDBC side whose
    // engine uppercases unquoted identifiers (Derby/Oracle style) must
    // still line up against lowercase parquet columns
    val caseSensitive =
      a.df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def onB(c: String): Boolean =
      if (caseSensitive) b.df.columns.contains(c)
      else b.df.columns.exists(_.equalsIgnoreCase(c))
    val missing = a.relevantCols.filterNot(onB)
    require(missing.isEmpty,
      s"columns missing on side b: ${missing.mkString(", ")} (use extraCols/ignoreColumns to restrict the compare)")
    if (opts.validateKeys) {
      // Both sides, like the reference's joindiff (_test_duplicate_keys(table1,
      // table2)): a duplicate PK on either side multiplies full-outer-join rows.
      Seq("a" -> a, "b" -> b).foreach { case (side, seg) =>
        val (total, distinct, nulls) = seg.validateKeys()
        require(nulls == 0, s"null primary keys on side $side: $nulls")
        require(total == distinct, s"duplicate primary keys on side $side: ${total - distinct}")
      }
    }
    val compare = a.relevantCols
      .filterNot(a.keyCols.contains).filterNot(opts.ignoreColumns.contains)
    val jsonCols = opts.jsonColumns.toSet
    // diffExplicit, not diff: a compare list EMPTIED by ignoreColumns
    // means membership-only — the Nil-derives-all convenience default
    // (shared by TableSegment.relevantCols, which the HashDiff path
    // consults) would re-include exactly the columns the caller asked
    // to ignore. Membership-only therefore always takes the join path.
    val tol = resolveTol(opts.tolerances, "tolerance", compare, caseSensitive)
    val rtol = resolveTol(opts.relTolerances, "relative-tolerance", compare, caseSensitive)
    if (compare.isEmpty)
      return JoinDiffer.diffExplicit(a.scoped, b.scoped, a.keyCols, Nil, jsonCols)
    opts.algorithm match {
      case Algorithm.JoinDiff =>
        JoinDiffer.diffExplicit(a.scoped, b.scoped, a.keyCols, compare, jsonCols, tol, rtol)
      case Algorithm.HashDiff =>
        HashDiffer.diff(a.copy(extraCols = compare), b.copy(extraCols = compare), opts.buckets,
          jsonCols = jsonCols)
      case Algorithm.Auto =>
        // Spark reads both sides itself — storage is always "the same
        // engine"; hashdiff only pays off when the caller expects few
        // diffs, which Auto cannot know without a pre-pass it must not
        // silently spend. Default to the single-pass join;
        // Algorithm.Estimate is the opt-in that measures first.
        JoinDiffer.diffExplicit(a.scoped, b.scoped, a.keyCols, compare, jsonCols, tol, rtol)
      case Algorithm.Estimate =>
        // tolerances force the join: the estimate's hashdiff arm would
        // re-report the within-epsilon drift the caller asked to ignore
        val pick = if (tol.nonEmpty || rtol.nonEmpty) Algorithm.JoinDiff
          else chooseAlgorithm(a, b, compare, opts)
        pick match {
          case Algorithm.JoinDiff =>
            JoinDiffer.diffExplicit(a.scoped, b.scoped, a.keyCols, compare, jsonCols, tol, rtol)
          case _ =>
            HashDiffer.diff(a.copy(extraCols = compare), b.copy(extraCols = compare),
              opts.buckets, jsonCols = jsonCols)
        }
    }
  }

  /** The Algorithm.Estimate decision, exposed for callers that want the
    * verdict without the diff: sampled rate ≥ denseMilliCutoff →
    * JoinDiff (one shuffle beats checksum levels that prune nothing),
    * else HashDiff (pruning pays). */
  def chooseAlgorithm(a: TableSegment, b: TableSegment, compare: Seq[String],
      opts: DiffOptions = DiffOptions()): Algorithm = {
    val e = graft.diff.DiffEstimate.estimate(a.scoped, b.scoped, a.keyCols,
      compare, mod = opts.estimateMod, denseMilliCutoff = opts.denseMilliCutoff,
      jsonCols = opts.jsonColumns.toSet)
    if (e.isDense) Algorithm.JoinDiff else Algorithm.HashDiff
  }

  /** Tolerance keys must name real compare columns, resolved with the
    * same case rules as the columns themselves — a typo or wrong-case key
    * would otherwise parse, thread through, and silently disable the
    * envelope the caller believes is active. Returns the map re-keyed to
    * the resolved column spellings. */
  private def resolveTol(m: Map[String, Double], flag: String,
      compare: Seq[String], caseSensitive: Boolean): Map[String, Double] =
    m.map { case (k, e) =>
      val resolved =
        if (caseSensitive) compare.find(_ == k)
        else compare.find(_.equalsIgnoreCase(k))
      require(resolved.nonEmpty,
        s"$flag column '$k' is not among the compared columns " +
          s"[${compare.mkString(", ")}] — keys and ignored columns " +
          "cannot carry tolerances")
      resolved.get -> e
    }

  def diffStats(a: TableSegment, b: TableSegment,
      opts: DiffOptions = DiffOptions()): DataFrame =
    // statsExplicit + the same jsonColumns as diffTables, so the summary
    // can never contradict the row-level diff it summarizes
    {
    val compare = a.relevantCols.filterNot(a.keyCols.contains)
      .filterNot(opts.ignoreColumns.contains)
    val caseSensitive =
      a.df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
    JoinDiffer.statsExplicit(a.scoped, b.scoped, a.keyCols, compare,
      opts.jsonColumns.toSet,
      resolveTol(opts.tolerances, "tolerance", compare, caseSensitive),
      resolveTol(opts.relTolerances, "relative-tolerance", compare, caseSensitive))
    }

  /** Cross-engine diff: the b-side lives in an external engine reachable
    * only through `engine`; per-segment checksum SQL is pushed there and
    * only bucket summaries plus leaf rows cross the wire (the reference's
    * core use case; `PushdownDiffer` runs the one bisection engine,
    * graft.sources.Bisection, with a Spark side and a remote side). The
    * remote normalizes under the LOCAL side's Spark schema — the mutual
    * schema, as negotiated by the reference's _validate_and_adjust_columns. */
  def diffPushdown(local: TableSegment, engine: graft.sources.RemoteEngine,
      remoteTable: String, remoteWhereSql: Option[String] = None,
      bisectionFactor: Int = graft.sources.PushdownDiffer.DefaultBisectionFactor,
      bisectionThreshold: Int = graft.sources.PushdownDiffer.DefaultBisectionThreshold): DataFrame = {
    val compare = local.relevantCols.filterNot(local.keyCols.contains)
    val schema = local.df.select(local.relevantCols.map(
      org.apache.spark.sql.functions.col): _*).schema
    graft.sources.PushdownDiffer.diff(local,
      graft.sources.RemoteTable(engine, remoteTable, local.keyCols, compare, schema,
        local.fracPrecision, local.tsPrecision, remoteWhereSql),
      bisectionFactor, bisectionThreshold)
  }

  /** Cross-engine diff via the real-user path: the remote's schema comes
    * from its own catalog (`RemoteSchema.introspect` — types, precisions,
    * 64-row text refinement) and the two sides' timestamp/fraction
    * precisions are negotiated with `alignPrecision` before any checksum
    * ships, then runs the same engine as `diffPushdown`. Prefer this over
    * `diffPushdown` unless the remote schema is already known out-of-band. */
  def diffPushdownIntrospected(local: TableSegment, engine: graft.sources.RemoteEngine,
      remoteTable: String, remoteWhereSql: Option[String] = None,
      bisectionFactor: Int = graft.sources.PushdownDiffer.DefaultBisectionFactor,
      bisectionThreshold: Int = graft.sources.PushdownDiffer.DefaultBisectionThreshold,
      control: graft.sources.PushdownControl = new graft.sources.PushdownControl()): DataFrame = {
    val compare = local.relevantCols.filterNot(local.keyCols.contains)
    val remote = graft.sources.RemoteTable.introspect(
      engine, remoteTable, local.keyCols, compare, remoteWhereSql)
    val (l, r) = alignPrecision(local, remote)
    graft.sources.PushdownDiffer.diffWithStats(l, r, bisectionFactor, bisectionThreshold,
      control = control)._1
  }

  /** Cross-engine diff where NEITHER side is Spark-readable — the
    * reference's primary scenario (postgres ↔ mysql): both schemas come
    * from their own catalogs, precisions are negotiated across the two
    * sides, and Spark only coordinates bisection and compares downloaded
    * leaf rows (`RemoteRemoteDiffer`: the bisection engine,
    * graft.sources.Bisection, with two remote sides). */
  def diffRemotes(spark: SparkSession,
      engineA: graft.sources.RemoteEngine, tableA: String,
      engineB: graft.sources.RemoteEngine, tableB: String,
      keyCols: Seq[String], compareCols: Seq[String],
      whereA: Option[String] = None, whereB: Option[String] = None,
      bisectionFactor: Int = graft.sources.PushdownDiffer.DefaultBisectionFactor,
      bisectionThreshold: Int = graft.sources.PushdownDiffer.DefaultBisectionThreshold,
      control: graft.sources.PushdownControl = new graft.sources.PushdownControl()): DataFrame = {
    val a = graft.sources.RemoteTable.introspect(engineA, tableA, keyCols, compareCols, whereA)
    val b = graft.sources.RemoteTable.introspect(engineB, tableB, keyCols, compareCols, whereB)
    val tp = math.min(a.tsPrecision, b.tsPrecision)
    val fp = math.max(a.fracPrecision, b.fracPrecision)
    graft.sources.RemoteRemoteDiffer.diff(spark,
      a.copy(fracPrecision = fp, tsPrecision = tp),
      b.copy(fracPrecision = fp, tsPrecision = tp),
      bisectionFactor, bisectionThreshold, control = control)._1
  }

  /** Negotiate mutual precision between a local segment and an introspected
    * remote table. The bisection engine REQUIRES both sides to normalize at the
    * same knobs; this helper makes the contract impossible to silently
    * violate (reference: hashdiff_tables.py:119-168 negotiates per column
    * pair). Timestamps take the MINIMUM (normalizing finer than an engine
    * stores would pad zeros on one side only); fractions take the MAXIMUM
    * (padding zeros is consistent on both sides, while rounding away stored
    * digits could mask sub-precision diffs) — the same asymmetry
    * RemoteSchema.introspect applies across the remote's own columns. */
  def alignPrecision(local: TableSegment, remote: graft.sources.RemoteTable)
      : (TableSegment, graft.sources.RemoteTable) = {
    val tp = math.min(local.tsPrecision, remote.tsPrecision)
    val fp = math.max(local.fracPrecision, remote.fracPrecision)
    (local.copy(fracPrecision = fp, tsPrecision = tp),
      remote.copy(fracPrecision = fp, tsPrecision = tp))
  }

  /** Apply a signed diff to the b-side so it matches the a-side it was
    * diffed against: every key present in the diff is rewritten — its
    * b-rows are dropped and replaced by the a-side ('-') image (an add to
    * b has no '-' row, so the key is simply removed; a removal has no
    * b-rows to drop). One anti-join plus a union; the patch is idempotent
    * and `diffTables(a, patchTable(b, diff, keys))` is empty (spec'd).
    * The diff-only-touches-changed-keys property means the rewrite volume
    * is the diff size, not the table size. */
  def patchTable(b: DataFrame, diff: DataFrame, keyCols: Seq[String]): DataFrame = {
    val aImage = diff
      .where(org.apache.spark.sql.functions.col("sign") === "-")
      .drop("sign")
    // the diff must carry ORIGINAL-typed rows over b's full column set
    // (i.e. a joindiff over the original columns) — pushdown/hashdiff leaf
    // output is normalized STRINGS, and a silent union-coercion would
    // stringify the whole patched table
    b.columns.foreach { c =>
      require(aImage.columns.contains(c), s"diff is missing column $c — patch needs the full row")
      require(aImage.schema(c).dataType == b.schema(c).dataType,
        s"column $c: diff carries ${aImage.schema(c).dataType.simpleString} but the table is " +
          s"${b.schema(c).dataType.simpleString} — patch needs original-typed (joindiff) rows")
    }
    val touched = diff.select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
    b.join(touched, keyCols, "left_anti")
      .unionByName(aImage.select(b.columns.map(org.apache.spark.sql.functions.col).toSeq: _*))
  }

  /** '%t' in a materialize target expands to a UTC run timestamp
    * (reference: utils.py:396-400 eval_name_template). */
  def evalNameTemplate(name: String): String =
    name.replace("%t", java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now()))

  /** Append diff rows to a result table, capped like the reference's
    * materializer (reference: joindiff_tables.py:38,396-399
    * TABLE_WRITE_LIMIT). */
  def materializeDiff(diff: DataFrame, path: String, limit: Int = 1000): Unit =
    diff.limit(limit).write.mode("append").parquet(evalNameTemplate(path))
}

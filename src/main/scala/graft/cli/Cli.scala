package graft.cli

import java.time.Duration

import org.apache.spark.sql.SparkSession

import graft.api.Graft
import graft.diff.DiffFormat

/** Compact time-delta grammar: "1d5h30min" → Duration
  * (reference: data_diff/parse_time.py:10-74; months/years extrapolate to
  * 30/365 days). */
object ParseTime {
  private val Units: Map[String, (Long, String)] = Map(
    "s" -> (1L, "seconds"), "seconds" -> (1L, "seconds"),
    "min" -> (60L, "minutes"), "minutes" -> (60L, "minutes"),
    "h" -> (3600L, "hours"), "hours" -> (3600L, "hours"),
    "d" -> (86400L, "days"), "days" -> (86400L, "days"),
    "w" -> (7L * 86400, "weeks"), "weeks" -> (7L * 86400, "weeks"),
    "mon" -> (30L * 86400, "months"), "months" -> (30L * 86400, "months"),
    "y" -> (365L * 86400, "years"), "years" -> (365L * 86400, "years"))

  private val Atom = "(\\d+)([a-z]+)".r

  def parseTimeDelta(t: String): Duration = {
    var rest = t
    var seconds = 0L
    val seen = scala.collection.mutable.Set.empty[String]
    if (rest.isEmpty) throw new IllegalArgumentException("No time difference specified")
    while (rest.nonEmpty) {
      Atom.findPrefixMatchOf(rest) match {
        case Some(m) =>
          val (mul, canonical) = Units.getOrElse(m.group(2),
            throw new IllegalArgumentException(
              s"'${m.group(2)}' is not a recognized time unit. Supported: ${Units.keys.toSeq.sorted.mkString(", ")}"))
          if (!seen.add(canonical))
            throw new IllegalArgumentException(s"Time unit $canonical specified more than once")
          seconds += m.group(1).toLong * mul
          rest = rest.substring(m.end)
        case None =>
          throw new IllegalArgumentException(s"Cannot parse '$rest': Not a recognized time delta")
      }
    }
    Duration.ofSeconds(seconds)
  }
}

/** CLI mirroring the reference's surface (reference: data_diff/__main__.py):
  *
  *   graft.cli.Cli SOURCE_A SOURCE_B -k key[,key2] [-c col1,col2]
  *     (-c accepts LIKE wildcards: % any run, ? one char — reference
  *     --columns semantics; a pattern matching nothing errors)
  *     [--algorithm auto|joindiff|hashdiff|estimate] [--no-estimate]
  *     [--stats] [--json] [--limit N]
  *     [--ignore col1,col2] [--tolerance col=eps[,…]] [--rel-tolerance col=r[,…]]
  *     [--update-column col --min-age 1d --max-age 1h]
  *     [--materialize path] [--where EXPR] [--assume-unique-key]
  *     [--sample-exclusive-rows] [--materialize-all-rows]
  *     [--table-write-limit N] [--case-sensitive] [--repair] [--force-repair]
  *     [-d|-v] [--version]
  *   graft.cli.Cli --dbt --dbt-project-dir DIR
  *     --dbt-dev-base PATH --dbt-prod-base PATH
  *
  * Sources are anything `Graft.connectToTable` accepts (paths, fmt:path,
  * jdbc:<url>#<table> read by Spark, catalog tables), or a REMOTE marker —
  * `duckdb:<db>:<table>` or `remote:jdbc:<url>#<table>` (dialect profile
  * resolved from the jdbc subprotocol) — and then checksum SQL runs inside
  * that engine and only summaries plus leaf rows cross. Either side (or
  * both — Spark then only coordinates) may be remote.
  */
object Cli {
  case class Args(
      sourceA: String = "", sourceB: String = "",
      keys: Seq[String] = Nil, cols: Seq[String] = Nil,
      // empty = not set on the command line ("auto" must remain an EXPLICIT
      // choice so a config file cannot override it)
      ignore: Seq[String] = Nil, algorithm: String = "",
      // per-column absolute epsilon compare (beyond ref): --tolerance
      // col=eps[,col=eps…]; joindiff-only (a checksum cannot compare
      // within an epsilon), so remote pushdown refuses it
      tolerances: Map[String, Double] = Map.empty,
      relTolerances: Map[String, Double] = Map.empty,
      // with NO --algorithm, local two-table diffs default to the
      // measured pick (Algorithm.Estimate: sample-diff, then joindiff if
      // dense / hashdiff if sparse); --no-estimate restores the plain
      // single-pass joindiff default without naming an algorithm
      noEstimate: Boolean = false,
      stats: Boolean = false, json: Boolean = false, limit: Option[Int] = None,
      updateColumn: Option[String] = None,
      minAge: Option[String] = None, maxAge: Option[String] = None,
      materialize: Option[String] = None,
      conf: Option[String] = None, run: Option[String] = None,
      interactive: Boolean = false,
      // hashdiff/pushdown knobs (reference: __main__.py --bisection-factor
      // / --bisection-threshold, defaults hashdiff_tables.py:19-20)
      bisectionFactor: Int = 32, bisectionThreshold: Int = 16 * 1024,
      // row-quantile checkpoint seeding for single-key pushdown bisection
      // (beyond ref — it hard-codes arithmetic checkpoints,
      // utils.py:321-324). ON by default: measured 6→2 levels on skewed
      // keys, ≤1 level difference on uniform ones; --no-quantile-seed
      // restores the arithmetic splits
      quantileSeed: Boolean = true,
      // extra WHERE restricting both sides (reference: __main__.py --where;
      // the same "beware of SQL injection" contract — the string is Spark
      // SQL locally and raw SQL on a pushdown remote)
      where: Option[String] = None,
      // skip duplicate/null-PK validation (reference --assume-unique-key:
      // "skip validating the uniqueness of the key column... which is costly")
      assumeUniqueKey: Boolean = false,
      // sample rows that exist on only one side into the stats Extra-Info
      // block (reference --sample-exclusive-rows, joindiff_tables.py:356-394)
      sampleExclusiveRows: Boolean = false,
      // materialize every outer-join row, not just the differing ones
      // (reference --materialize-all-rows, joindiff_tables.py:198-200)
      materializeAllRows: Boolean = false,
      // cap on materialized rows (reference --table-write-limit,
      // TABLE_WRITE_LIMIT = 1000, joindiff_tables.py:38)
      tableWriteLimit: Int = 1000,
      // column-name case sensitivity (reference --case-sensitive; Spark's
      // resolver honors spark.sql.caseSensitive)
      caseSensitive: Boolean = false,
      // apply the diff to side B after reporting it (greenfield: the
      // reference stops at finding out-of-sync rows; this fixes them).
      // Requires a LOCAL side A (typed source of truth) and a remote:
      // side B target — see the --repair branch for why other
      // orientations refuse.
      repair: Boolean = false,
      // override the dense-damage refusal: repair row-by-row even when
      // most of the remote differs (RemoteRepair's maxDamageFraction=1.0)
      forceRepair: Boolean = false,
      // -d/--debug/-v raise the log level (reference prints debug info)
      verbose: Boolean = false,
      version: Boolean = false,
      // dbt mode (reference: __main__.py --dbt + --dbt-project-dir; the
      // reference resolves dev/prod relations from dbt profiles — the
      // path-world analogue is an explicit base directory per side)
      dbt: Boolean = false,
      dbtProjectDir: String = ".",
      dbtDevBase: Option[String] = None,
      dbtProdBase: Option[String] = None,
      // --select: restrict dbt diffs to models matching the glob
      // (reference passes dbt selection syntax through; the artifact-world
      // analogue is a name glob over the built models)
      dbtSelect: Option[String] = None,
      // --state: read run_results/manifest from an alternate artifacts
      // dir instead of <project-dir>/target (reference: dbt state dir)
      dbtState: Option[String] = None,
      // --prod-database/--prod-schema: override where prod relations live
      // (reference overrides the prod manifest's database/schema; the
      // path-world analogue composes the prod base as <database>[/<schema>])
      prodDatabase: Option[String] = None,
      prodSchema: Option[String] = None)

  /** The reference's `--columns` wildcard expansion (match_like:
    * utils.py:362-367, applied at __main__.py:439-461): `%` matches any
    * run of characters, `?` exactly one; a pattern that matches NOTHING
    * in the available columns is an error (silently comparing fewer
    * columns than asked is a false-clean hazard). Literal names pass
    * through untouched; matches keep the available-column order, deduped
    * across patterns. Case folds unless `caseSensitive`. */
  def expandColumnPatterns(patterns: Seq[String], available: Seq[String],
      caseSensitive: Boolean): Seq[String] = {
    def fold(s: String) =
      if (caseSensitive) s else s.toLowerCase(java.util.Locale.ROOT)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    patterns.foreach { p =>
      if (!p.contains("%") && !p.contains("?")) out += p
      else {
        val sb = new StringBuilder
        // fold BEFORE quoting — lowercasing a built regex would corrupt
        // the \Q…\E quoting markers
        fold(p).foreach {
          case '%' => sb.append(".*")
          case '?' => sb.append(".")
          case ch => sb.append(java.util.regex.Pattern.quote(ch.toString))
        }
        val re = java.util.regex.Pattern.compile(sb.toString)
        val matched = available.filter(c => re.matcher(fold(c)).matches())
        if (matched.isEmpty) throw new IllegalArgumentException(
          s"Column '$p' not found in the table (wildcards: % = any run, ? = one character)")
        out ++= matched
      }
    }
    out.toSeq
  }

  def parseArgs(argv: Array[String]): Args = {
    def split(s: String) = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def parseTol(flag: String, v: String): Map[String, Double] =
      split(v).map { kv =>
        kv.split("=", 2) match {
          case Array(c, e) if c.nonEmpty =>
            val eps = try e.toDouble catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(s"$flag $kv: '$e' is not a number") }
            c -> eps
          case _ => throw new IllegalArgumentException(
            s"$flag expects col=eps[,col=eps...], got '$kv'")
        }
      }.toMap
    @annotation.tailrec
    def go(rest: List[String], a: Args, positional: Int): Args = rest match {
      case Nil => a
      case "-k" :: v :: t => go(t, a.copy(keys = split(v)), positional)
      case "-c" :: v :: t => go(t, a.copy(cols = split(v)), positional)
      case "--ignore" :: v :: t => go(t, a.copy(ignore = split(v)), positional)
      case "--tolerance" :: v :: t =>
        go(t, a.copy(tolerances = a.tolerances ++ parseTol("--tolerance", v)), positional)
      case "--rel-tolerance" :: v :: t =>
        go(t, a.copy(relTolerances = a.relTolerances ++ parseTol("--rel-tolerance", v)),
          positional)
      case ("-a" | "--algorithm") :: v :: t => go(t, a.copy(algorithm = v), positional)
      case ("-s" | "--stats") :: t => go(t, a.copy(stats = true), positional)
      case ("-i" | "--interactive") :: t => go(t, a.copy(interactive = true), positional)
      case "--bisection-factor" :: v :: t => go(t, a.copy(bisectionFactor = v.toInt), positional)
      case "--bisection-threshold" :: v :: t => go(t, a.copy(bisectionThreshold = v.toInt), positional)
      case "--quantile-seed" :: t => go(t, a.copy(quantileSeed = true), positional)
      case "--no-quantile-seed" :: t => go(t, a.copy(quantileSeed = false), positional)
      case "--no-estimate" :: t => go(t, a.copy(noEstimate = true), positional)
      case "--json" :: t => go(t, a.copy(json = true), positional)
      case ("-l" | "--limit") :: v :: t => go(t, a.copy(limit = Some(v.toInt)), positional)
      case ("-t" | "--update-column") :: v :: t => go(t, a.copy(updateColumn = Some(v)), positional)
      case "--min-age" :: v :: t => go(t, a.copy(minAge = Some(v)), positional)
      case "--max-age" :: v :: t => go(t, a.copy(maxAge = Some(v)), positional)
      case ("-m" | "--materialize" | "--materialize-to-table") :: v :: t => go(t, a.copy(materialize = Some(v)), positional)
      case "--conf" :: v :: t => go(t, a.copy(conf = Some(v)), positional)
      case "--run" :: v :: t => go(t, a.copy(run = Some(v)), positional)
      case ("-w" | "--where") :: v :: t => go(t, a.copy(where = Some(v)), positional)
      case "--assume-unique-key" :: t => go(t, a.copy(assumeUniqueKey = true), positional)
      case "--sample-exclusive-rows" :: t => go(t, a.copy(sampleExclusiveRows = true), positional)
      case "--materialize-all-rows" :: t => go(t, a.copy(materializeAllRows = true), positional)
      case "--table-write-limit" :: v :: t => go(t, a.copy(tableWriteLimit = v.toInt), positional)
      case "--case-sensitive" :: t => go(t, a.copy(caseSensitive = true), positional)
      case "--repair" :: t => go(t, a.copy(repair = true), positional)
      case "--force-repair" :: t => go(t, a.copy(repair = true, forceRepair = true), positional)
      case ("-d" | "--debug" | "-v" | "--verbose") :: t => go(t, a.copy(verbose = true), positional)
      case "--version" :: t => go(t, a.copy(version = true), positional)
      // accepted for drop-in compatibility: this engine never phones home,
      // and parallelism is the cluster scheduler's job, not a CLI knob
      // (reference: --no-tracking, --threads N)
      case "--no-tracking" :: t => go(t, a, positional)
      case ("-j" | "--threads") :: _ :: t => go(t, a, positional)
      case "--dbt" :: t => go(t, a.copy(dbt = true), positional)
      case "--dbt-project-dir" :: v :: t => go(t, a.copy(dbtProjectDir = v), positional)
      case "--dbt-dev-base" :: v :: t => go(t, a.copy(dbtDevBase = Some(v)), positional)
      case "--dbt-prod-base" :: v :: t => go(t, a.copy(dbtProdBase = Some(v)), positional)
      case "--select" :: v :: t => go(t, a.copy(dbtSelect = Some(v)), positional)
      case "--state" :: v :: t => go(t, a.copy(dbtState = Some(v)), positional)
      case "--prod-database" :: v :: t => go(t, a.copy(prodDatabase = Some(v)), positional)
      case "--prod-schema" :: v :: t => go(t, a.copy(prodSchema = Some(v)), positional)
      // reference reads warehouse creds from dbt profiles; sources here
      // are explicit URIs/paths, so the flag is accepted and unused
      case "--dbt-profiles-dir" :: _ :: t => go(t, a, positional)
      case "--cloud" :: _ =>
        throw new IllegalArgumentException(
          "--cloud submits diffs to a SaaS backend; this engine runs " +
            "everything locally/in-cluster — drop the flag to diff here")
      case v :: t if positional == 0 => go(t, a.copy(sourceA = v), 1)
      case v :: t if positional == 1 => go(t, a.copy(sourceB = v), 2)
      case v :: _ => throw new IllegalArgumentException(s"Unexpected argument: $v")
    }
    val cli = go(argv.toList, Args(), 0)
    // config-file keys fill anything the command line left unset; CLI wins
    // (reference: config.py apply_config_from_file)
    val a = (cli.conf, cli.run) match {
      case (Some(path), Some(run)) =>
        val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
        Config.applyRun(Config.parse(text), run, cli)
      case (None, None) => cli
      case _ => throw new IllegalArgumentException("--conf and --run must be used together")
    }
    if (a.dbt) {
      require(a.dbtDevBase.nonEmpty && (a.dbtProdBase.nonEmpty || a.prodDatabase.nonEmpty),
        "--dbt requires --dbt-dev-base and a prod location " +
          "(--dbt-prod-base, or --prod-database [--prod-schema])")
    } else if (!a.version) {
      require(a.sourceA.nonEmpty && a.sourceB.nonEmpty, "two sources required")
      require(a.keys.nonEmpty, "-k key column(s) required")
    }
    a
  }

  /** Printed by --version (reference: __main__.py --version). */
  val VersionString = "graft 0.5.0 — Spark-native table diff engine"

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(a, spark) finally spark.stop()
  }

  /** The CLI body, separated from session lifecycle so tests (or an
    * embedding application) can drive it on their own session. */
  def run(a: Args, spark: SparkSession): Unit = {
      if (a.version) { println(VersionString); return }
      if (a.caseSensitive) spark.conf.set("spark.sql.caseSensitive", "true")
      if (a.verbose) spark.sparkContext.setLogLevel("INFO")
      if (a.dbt) { runDbt(a, spark); return }
      val now = java.time.Instant.now()
      def ageBound(age: Option[String]) =
        age.map(s => java.sql.Timestamp.from(now.minus(ParseTime.parseTimeDelta(s))))
      // -c patterns with % / ? expand against the actual schema before any
      // segment is built (reference: --columns through match_like); keys
      // and the update column never re-enter through a wildcard
      val colsHaveWildcards = a.cols.exists(p => p.contains("%") || p.contains("?"))
      def sameName(x: String, y: String): Boolean =
        if (a.caseSensitive) x == y else x.equalsIgnoreCase(y)
      def expandCols(available: => Seq[String]): Seq[String] =
        if (!colsHaveWildcards) a.cols
        else {
          val expanded = expandColumnPatterns(a.cols, available, a.caseSensitive)
            .filterNot(c => a.keys.exists(sameName(_, c)))
            .filterNot(c => a.updateColumn.exists(sameName(_, c)))
          // an expansion that nets NOTHING must refuse, never fall through:
          // empty extraCols means "all non-key columns" downstream
          // (TableSegment.relevantCols' convenience default), which would
          // silently compare columns the user never selected
          if (expanded.isEmpty) throw new IllegalArgumentException(
            s"-c ${a.cols.mkString(",")} matched only key/update columns — " +
              "nothing left to compare. Name value columns, or drop -c to " +
              "compare every non-key column.")
          expanded
        }
      def segment(src: String) = {
        // ONE connect per source: under wildcards the same segment re-scopes
        // to the expanded list (a second connectToTable would re-infer csv
        // schemas / re-issue jdbc schema round-trips just to read columns)
        val base = Graft.connectToTable(spark, src, a.keys, Nil)
        // literal -c names are validated against the schema here, like the
        // reference (match_like errors on ANY --columns argument not
        // found) — the alternative is an opaque resolver error mid-plan
        a.cols.filterNot(p => p.contains("%") || p.contains("?")).foreach { c =>
          require(base.relevantCols.exists(sameName(_, c)),
            s"Column '$c' not found in $src. Columns: ${base.relevantCols.mkString(", ")}")
        }
        val seg =
          if (a.cols.isEmpty) base
          else base.copy(extraCols = expandCols(base.relevantCols))
          .copy(updateCol = a.updateColumn,
            // --min-age: only rows OLDER than the delta → upper bound on update ts
            maxUpdate = ageBound(a.minAge), minUpdate = ageBound(a.maxAge))
        // --where restricts the local scan; the expression lands in the
        // pushed-down filter chain like every other scope predicate
        a.where.fold(seg)(w => seg.withExtraFilter(org.apache.spark.sql.functions.expr(w)))
      }
      lazy val segA = segment(a.sourceA)
      // "duckdb:<db>:<table>" or "remote:jdbc:<url>#<table>" marks a side
      // as remote: checksum SQL runs inside that engine, only summaries and
      // leaf rows cross; --interactive EXPLAINs every remote query first
      // (reference: cross-DB diffs default to hashdiff with remote
      // execution; --interactive databases/base.py:984-994). Either side —
      // or both — may be remote; with both remote Spark only coordinates
      // (RemoteRemoteDiffer, the reference's postgres↔mysql scenario).
      // The jdbc form picks its dialect profile from the subprotocol
      // (jdbc:derby → derby, jdbc:postgresql → postgresql, …) — the same
      // registry the reference's _connect.py scheme map plays. A plain
      // "jdbc:<url>#<table>" (no remote: prefix) stays a Spark-READ side.
      def parseRemote(src: String): Option[(String, String)] =
        if (src.startsWith("duckdb:")) src.split(":", 3) match {
          case Array("duckdb", db, table) => Some((s"duckdb:$db", table))
          case _ => None
        }
        else if (src.startsWith("remote:jdbc:")) {
          val body = src.stripPrefix("remote:")
          val i = body.lastIndexOf('#')
          require(i > 0 && i < body.length - 1,
            s"remote:jdbc source needs a #table suffix: $src")
          Some((body.substring(0, i), body.substring(i + 1)))
        } else None
      val (remA, remB) = (parseRemote(a.sourceA), parseRemote(a.sourceB))
      val anyRemote = remA.nonEmpty || remB.nonEmpty
      if (anyRemote) {
        // pushdown IS hashdiff, so an explicit hashdiff/auto choice is
        // honored; joindiff needs both sides in one engine and must not be
        // silently dropped (reference: joindiff_tables.py requires same-DB
        // sides and errors on cross-database use)
        a.algorithm match {
          // `estimate` is honored too: the pushdown loop already measures
          // its regime mid-flight (dense-cutover candidacy + density
          // probe), which IS the measure-then-choose behavior the flag
          // asks for — no separate pre-flight needed
          case "" | "auto" | "hashdiff" | "estimate" => ()
          case "joindiff" => throw new IllegalArgumentException(
            "--algorithm joindiff requires both tables in the same engine; " +
              "a duckdb: remote source always uses pushdown hashdiff")
          case other => throw new IllegalArgumentException(s"unknown algorithm: $other")
        }
        require(!a.materializeAllRows && !a.sampleExclusiveRows,
          "--materialize-all-rows / --sample-exclusive-rows are joindiff-only " +
            "(reference: joindiff_tables.py); a duckdb: remote runs pushdown hashdiff")
        require(a.tolerances.isEmpty && a.relTolerances.isEmpty,
          "--tolerance is joindiff-only: a pushdown checksum cannot compare " +
            "within an epsilon. Diff both sides locally to use tolerances.")
      }
      def engineFor(spec: String): graft.sources.RemoteEngine = {
        val raw: graft.sources.RemoteEngine =
          if (spec.startsWith("jdbc:")) {
            val sub = spec.split(":", 3)(1)
            val profile = graft.sources.SourceProfile.registry.getOrElse(sub,
              throw new IllegalArgumentException(
                s"no dialect profile for jdbc subprotocol '$sub' " +
                  s"(known: ${graft.sources.SourceProfile.registry.keys.toSeq.sorted.mkString(", ")})"))
            new graft.sources.JdbcEngine(spec, new java.util.Properties(), profile)
          } else graft.sources.DuckDbProcess.engine(spec.stripPrefix("duckdb:"))
        if (a.interactive) new graft.sources.InteractiveEngine(raw) else raw
      }
      // the update-column scope and --where must restrict BOTH sides —
      // rendered as a remote WHERE so out-of-window remote rows don't read
      // as spurious adds (the reference ships --where verbatim to both)
      def remoteWhereFor(p: graft.sources.SourceProfile): Option[String] = {
        val updateWhere = a.updateColumn.map { u =>
          val q = p.quote(u)
          (ageBound(a.minAge).map(ts => s"$q < ${p.timestampLiteral(ts)}") ++
            ageBound(a.maxAge).map(ts => s"$q >= ${p.timestampLiteral(ts)}"))
            .mkString(" AND ")
        }.filter(_.nonEmpty)
        (updateWhere.toSeq ++ a.where.map(w => s"($w)"))
          .reduceOption((x, y) => s"$x AND $y")
      }
      // side-A row total for remote-mode stats (unchanged = totalA − …),
      // captured while the engine is still open
      var remoteTotalA: Option[Long] = None
      def remoteCount(eng: graft.sources.RemoteEngine, table: String): Long = {
        val w = remoteWhereFor(eng.profile).fold("")(p => s" WHERE $p")
        eng.query(s"SELECT COUNT(*) FROM $table$w").head.head.get.trim.toLong
      }
      // progressive pushdown: diff rows print per bisection level as each
      // level's leaves are compared, instead of after the whole loop — a
      // long remote diff shows its first rows in seconds (the reference's
      // early-streaming UX). Off under --limit (which wants at most N rows
      // printed once).
      var printedProgressively = false
      def progressiveControl(): graft.sources.PushdownControl =
        new graft.sources.PushdownControl(progressive = a.limit.isEmpty,
            quantileSeed = a.quantileSeed) {
          override def onLeafDiff(level: Int, d: org.apache.spark.sql.DataFrame): Unit = {
            if (a.json) DiffFormat.toJsonl(d).toLocalIterator().forEachRemaining(println(_))
            else d.toLocalIterator().forEachRemaining(r => println(r.mkString(" ")))
            printedProgressively = true
          }
        }
      val diff = (remA, remB) match {
        case (Some((dbA, tA)), Some((dbB, tB))) =>
          val (engA, engB) = (engineFor(dbA), engineFor(dbB))
          try {
            // without -c the column list comes from side A's own catalog
            // (wildcard -c patterns expand against the same catalog)
            def catalogA = engA.query(engA.profile.tableSchemaSql(tA))
              .flatMap(engA.profile.parseSchemaRow).map(_.name).toSeq
            val compare = (if (a.cols.nonEmpty) expandCols(catalogA)
              else catalogA.filterNot(a.keys.contains))
              .filterNot(a.ignore.contains)
            remoteTotalA = Some(remoteCount(engA, tA))
            Graft.diffRemotes(spark, engA, tA, engB, tB, a.keys, compare.toSeq,
              remoteWhereFor(engA.profile), remoteWhereFor(engB.profile),
              a.bisectionFactor, a.bisectionThreshold, progressiveControl())
          } finally { engA.close(); engB.close() }
        case (None, Some((db, table))) =>
          val eng = engineFor(db)
          try {
            val compare = (if (a.cols.nonEmpty) expandCols(segA.relevantCols)
                           else segA.relevantCols.filterNot(a.keys.contains))
              .filterNot(a.ignore.contains)
            // the real-user path: the remote's schema is introspected from
            // its own catalog and precisions are negotiated, instead of
            // trusting the local schema to describe the far side
            Graft.diffPushdownIntrospected(segA.copy(extraCols = compare), eng, table,
              remoteWhereFor(eng.profile), a.bisectionFactor, a.bisectionThreshold,
              progressiveControl())
          } finally eng.close() // leaf rows are materialized locally by now
        case (Some((db, table)), None) =>
          // remote side FIRST: the same introspected pushdown, with the
          // remote as the engine's side a so '-' means side A
          val eng = engineFor(db)
          try {
            val segB = segment(a.sourceB)
            val compare = (if (a.cols.nonEmpty) expandCols(segB.relevantCols)
                           else segB.relevantCols.filterNot(a.keys.contains))
              .filterNot(a.ignore.contains)
            remoteTotalA = Some(remoteCount(eng, table))
            val local = segB.copy(extraCols = compare)
            val remote = graft.sources.RemoteTable.introspect(eng, table, local.keyCols,
              local.relevantCols.filterNot(local.keyCols.contains), remoteWhereFor(eng.profile))
            val (l, r) = Graft.alignPrecision(local, remote)
            graft.sources.Bisection.diff(graft.sources.RemoteSide(spark, r),
              graft.sources.SparkSide(l), a.bisectionFactor, a.bisectionThreshold,
              progressiveControl())._1
          } finally eng.close()
        case (None, None) =>
          val segB = segment(a.sourceB)
          val algo = a.algorithm match {
            case "joindiff" => Graft.Algorithm.JoinDiff
            case "hashdiff" => Graft.Algorithm.HashDiff
            // evidence-based pick: sample-diff first (DiffEstimate), then
            // joindiff if dense, hashdiff if sparse
            case "estimate" => Graft.Algorithm.Estimate
            // no flag: the measured pick is the default — the sample
            // pre-flight costs ~n/estimateMod rows per side and spares a
            // sparse-diff run the full shuffle; --no-estimate (or an
            // explicit `auto`) restores the single-pass joindiff
            case "" => if (a.noEstimate) Graft.Algorithm.Auto
                       else Graft.Algorithm.Estimate
            case "auto" => Graft.Algorithm.Auto
            case other => throw new IllegalArgumentException(s"unknown algorithm: $other")
          }
          Graft.diffTables(segA, segB,
            Graft.DiffOptions(algorithm = algo, ignoreColumns = a.ignore,
              validateKeys = !a.assumeUniqueKey, tolerances = a.tolerances,
              relTolerances = a.relTolerances))
      }
      val limited = a.limit.fold(diff)(diff.limit)
      // --materialize-all-rows writes the reference's all_rows shape — the
      // full outer join with is_exclusive/is_diff flags, unchanged rows
      // included (joindiff_tables.py:198-200) — instead of the signed diff
      val matSource = if (a.materializeAllRows) {
        val segB = segment(a.sourceB)
        val compare = segA.relevantCols.filterNot(a.keys.contains).filterNot(a.ignore.contains)
        // same tolerances as the signed diff — the materialized is_diff
        // flags must never contradict the rows the diff printed
        graft.diff.JoinDiffer.flagged(segA.scoped, segB.scoped, a.keys, compare,
          tolerances = a.tolerances, relTolerances = a.relTolerances)
      } else limited
      // --materialize remote:<table> writes the diff INTO the remote engine
      // (the reference's semantics — it materializes a table in the
      // database being diffed); any other target is a parquet path. '%t'
      // expands to the run timestamp either way.
      a.materialize.foreach { target =>
        if (target.startsWith("remote:")) {
          val spec = (remB orElse remA).map(_._1).getOrElse(
            throw new IllegalArgumentException(
              "--materialize remote:<table> needs a remote: side to write into"))
          val eng = engineFor(spec)
          try graft.sources.RemoteRepair.materializeDiffRemote(eng,
            Graft.evalNameTemplate(target.stripPrefix("remote:")),
            matSource, a.tableWriteLimit)
          finally eng.close()
        } else Graft.materializeDiff(matSource, target, a.tableWriteLimit)
      }
      // --repair: patch side B so it matches side A. Supported exactly
      // where it is EXACT: side A local (typed rows re-read from the scan,
      // not the diff's normalized text — fraction normalization rounds
      // doubles, so inserting diff text would corrupt the remote) and
      // side B a remote: engine (a local side B is a parquet path Spark
      // cannot update in place — applyDiff + a rewrite is the API path).
      if (a.repair) (remA, remB) match {
        case (None, Some((db, table))) =>
          val eng = engineFor(db)
          try {
            val compare = (if (a.cols.nonEmpty) expandCols(segA.relevantCols)
                           else segA.relevantCols.filterNot(a.keys.contains))
              .filterNot(a.ignore.contains)
            val truth = segA.scoped.select(
              (a.keys ++ compare).map(org.apache.spark.sql.functions.col): _*)
            val rs = graft.sources.RemoteRepair.repair(eng, table, a.keys, truth, diff,
              maxDamageFraction = if (a.forceRepair) 1.0 else 0.5)
            Console.err.println(
              s"[repair] $table: ${rs.deletedKeys} keys deleted, " +
                s"${rs.insertedRows} rows inserted, ${rs.statements} statements")
          } finally eng.close()
        case (None, None) => throw new IllegalArgumentException(
          "--repair target must be a remote: source; for a local side B apply " +
            "the diff with JoinDiffer.applyDiff and rewrite the output path")
        case _ => throw new IllegalArgumentException(
          "--repair needs a LOCAL side A as the typed source of truth " +
            "(the diff's normalized text rounds doubles; inserting it would " +
            "corrupt the remote) — run with sides (local, remote:...)")
      }
      // stream partitions through the driver instead of collecting: without
      // --limit an unexpectedly large diff must not OOM the CLI (the
      // reference likewise streams its diff iterator)
      if (printedProgressively) () // rows already streamed per level
      else if (a.json) DiffFormat.toJsonl(limited).toLocalIterator().forEachRemaining(println(_))
      else limited.toLocalIterator().forEachRemaining(r => println(r.mkString(" ")))
      if (a.stats) {
        val s =
          // the summary must share the diff's ignore/tolerance options,
          // or within-envelope rows the diff suppressed read as 'updated'
          if (!anyRemote) DiffFormat.collectStats(Graft.diffStats(segA, segment(a.sourceB),
            Graft.DiffOptions(ignoreColumns = a.ignore, tolerances = a.tolerances,
              relTolerances = a.relTolerances)))
          else {
            // remote mode: derive the summary from the diff rows plus the
            // side-A row count (captured above; local scan otherwise) — no
            // extra remote traffic beyond that single COUNT
            import org.apache.spark.sql.functions.{col, countDistinct, min => fmin}
            val perKey = diff.groupBy(a.keys.map(col): _*)
              .agg(countDistinct(col("sign")).as("ns"), fmin(col("sign")).as("s1"))
              .groupBy("ns", "s1").count().collect()
              .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
            val removed = perKey.getOrElse((1L, "-"), 0L)
            val added = perKey.getOrElse((1L, "+"), 0L)
            val updated = perKey.collect { case ((2L, _), n) => n }.sum
            val unchanged = remoteTotalA.getOrElse(segA.scoped.count()) - removed - updated
            DiffFormat.DiffStatsResult(removed, added, updated, unchanged)
          }
        println(DiffFormat.statsString(s))
      }
      if (a.sampleExclusiveRows) {
        // bounded 10-row samples of one-sided rows, surfaced like the
        // reference's stats["exclusive_sample"] Extra-Info block
        // (joindiff_tables.py:356-394 + diff_tables.py:166-169)
        val segB = segment(a.sourceB)
        println("Extra-Info:")
        Seq("a", "b").foreach { side =>
          val rows = graft.diff.JoinDiffer
            .sampleExclusive(segA.scoped, segB.scoped, a.keys, side, n = 10).collect()
          println(s"  exclusive_sample_$side = " +
            rows.map(_.mkString("(", ", ", ")")).mkString("; "))
        }
      }
  }

  /** `--dbt`: diff every model that just built, dev vs prod
    * (reference: data_diff/dbt.py dbt_diff — artifacts under
    * `<project-dir>/target/`, one diff per model with declared PKs,
    * skipped models reported with their reason). */
  private def runDbt(a: Args, spark: SparkSession): Unit = {
    def read(p: String) =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    // --state overrides the artifacts dir (reference: dbt state dir)
    val target = a.dbtState.getOrElse(s"${a.dbtProjectDir}/target")
    val (allTasks, skipped) = graft.dbt.DbtAdapter.tasks(
      read(s"$target/run_results.json"), read(s"$target/manifest.json"))
    // --select: name glob over built models ('*' wildcard, like dbt's
    // simplest selector form)
    val tasks = a.dbtSelect match {
      case None => allTasks
      case Some(sel) =>
        val re = ("^" + java.util.regex.Pattern.quote(sel)
          .replace("*", "\\E.*\\Q") + "$").r
        val kept = allTasks.filter(t => re.findFirstIn(t.model).isDefined)
        allTasks.filterNot(kept.contains)
          .foreach(t => println(s"skipped ${t.model}: not selected by '$sel'"))
        kept
    }
    // --prod-database/--prod-schema compose the prod base when given
    val prodBase = (a.prodDatabase, a.prodSchema) match {
      case (Some(db), Some(sch)) => s"$db/$sch"
      case (Some(db), None) => db
      case _ => a.dbtProdBase.get
    }
    skipped.foreach(s => println(s"skipped ${s.model}: ${s.reason}"))
    tasks.foreach { t =>
      val dev = Graft.connectToTable(spark, s"${a.dbtDevBase.get}/${t.model}.parquet", t.keys)
      val prod = Graft.connectToTable(spark, s"$prodBase/${t.model}.parquet", t.keys)
      val s = DiffFormat.collectStats(Graft.diffStats(prod, dev))
      val summary =
        if (s.removed == 0 && s.added == 0 && s.updated == 0) "no differences"
        else DiffFormat.statsString(s).linesIterator.mkString("; ")
      println(s"${t.model}: $summary")
    }
  }
}

package graft.sources

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.diff.{JoinDiffer, KeySpace, TableSegment}

/** The one cross-engine hashdiff loop: segment the key space, checksum every
  * segment on both sides (`count + sum(md5_int48(normalized_row))`), prune
  * checksum-equal segments, bisect the rest, and fetch only the rows of
  * differing leaf segments for one local compare (reference control loop:
  * data_diff/hashdiff_tables.py:88-264 + diff_tables.py:289-395, which runs
  * the same loop over `TableSegment` for every database pair).
  *
  * The two [[Side]]s are a Spark frame ([[SparkSide]]) or a table behind a
  * remote engine ([[RemoteSide]]); `PushdownDiffer` pairs a frame with a
  * remote, `RemoteRemoteDiffer` two remotes. The engine owns every decision
  * — the root box, the key-segmentation rule, the splits, the level loop,
  * the dense cutover, progressive emission, the leaf compare and the stats —
  * and a side only renders them in its own language.
  *
  * Spark-first deviations from the reference, both round-trip economics:
  *  - a Spark side computes a whole batch of segment summaries in ONE
  *    scan+shuffle (a broadcast range-join against a segment-bounds table
  *    feeding a grouped checksum aggregate) instead of one query per segment;
  *  - a remote side receives ONE grouped query per batch
  *    (`SourceProfile.segmentedChecksumSql`) instead of per-segment queries
  *    on a thread pool — batch latency is one round-trip regardless of
  *    fan-out, which is what dominates remote bisection at scale.
  *
  * Batches are capped at [[MaxSegmentsPerQuery]] segments: a level's
  * frontier grows as dirty-segments × factor, so under a high diff rate
  * (e.g. a schema-wide change) an uncapped level would render a nested CASE
  * past Janino's 64 KB method limit locally and a statement past engine
  * length limits remotely. The cap bounds every generated artifact —
  * bucket-bounds broadcast, remote CASE, leaf OR-chain — at O(cap) while
  * keeping the loop O(levels × ceil(frontier/cap)) round-trips.
  *
  * Leaf volume is bounded by differing-regions × bisectionThreshold while
  * the loop bisects — the same bound the reference's download path has. The
  * dense cutover deliberately exceeds that bound (its leaves are most of the
  * table): JDBC-reachable engines then fetch as a partitioned
  * spark.read.jdbc scan (rows go straight to executors), and only pure
  * text-protocol engines still drain through the coordinator.
  */
private[graft] object Bisection {

  type Box = (Seq[KeySpace.Key], Seq[KeySpace.Key])
  /** A segment's (row count, checksum); absent segments read as no rows. */
  type Summary = (Long, Option[BigDecimal])
  private val NoRows: Summary = (0L, None)

  /** Segments per batched statement (this engine's own batching constant —
    * the reference never batches because it issues per-segment queries). */
  val MaxSegmentsPerQuery = 256
  private val MaxLevels = 64

  /** How a key column is rendered for SEGMENTATION — range probes, segment
    * predicates, the range-join and quantile sampling. Checksums and leaf
    * rows always stay raw. */
  sealed trait KeyMode
  case object Raw extends KeyMode
  case object Fold extends KeyMode // UPPER(): the case-insensitive collation fold
  case object Hex extends KeyMode // uppercase hex of the first 16 UTF-8 bytes, padded to 32
  case object Lower extends KeyMode // LOWER(): keys both sides tag as uniformly cased UUIDs

  /** What both sides must agree on, negotiated once per diff: how each key
    * segments, the columns both render casing-canonical (uuid-lower), the
    * concat mode, and the mutual type each remote side normalizes under. */
  final case class Plan(keyMode: Map[String, KeyMode], uuidAligned: Set[String],
      overflowSafe: Boolean, normType: Map[String, DataType], factor: Int) {
    def mode(k: String): KeyMode = keyMode.getOrElse(k, Raw)
  }

  /** One daemon thread carries a side's round-trip while the other side
    * (the Spark side, if any) works on the caller's thread — the two sides
    * of every level, key-range probe, sample and leaf fetch overlap, so a
    * step costs max(a, b) instead of their sum. The analogue of the
    * reference's per-database thread pools running both sides'
    * count_and_checksum concurrently (databases/base.py:1222-1254,
    * hashdiff_tables.py:169-215). A cached pool: idle between diffs, and
    * engines serialize their own access (ProcessEngine.query is
    * synchronized), so one in-flight remote call per engine is the cap. */
  private implicit lazy val remoteEc: ExecutionContext = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-pushdown-remote")
      t.setDaemon(true)
      t
    }))

  def diff(a: Side, b: Side, bisectionFactor: Int, bisectionThreshold: Int,
      control: PushdownControl): (DataFrame, PushdownStats) = {
    require(bisectionFactor >= 2 && bisectionFactor < bisectionThreshold,
      "need 2 <= bisectionFactor < bisectionThreshold")
    require(MaxSegmentsPerQuery >= bisectionFactor,
      "segment batch cap must fit at least one split fan-out")
    require(a.keyCols == b.keyCols, s"key columns must match: ${a.keyCols} vs ${b.keyCols}")
    require(a.relevantCols == b.relevantCols,
      s"compared columns must match: ${a.relevantCols} vs ${b.relevantCols}")
    require(a.fracPrecision == b.fracPrecision && a.tsPrecision == b.tsPrecision,
      "both sides must normalize at the same mutual precision " +
        "(Graft.alignPrecision and Graft.diffRemotes negotiate it)")
    val sides = Seq(a, b)
    val keyCols = a.keyCols
    val relevant = a.relevantCols
    val compare = relevant.filterNot(keyCols.contains)
    for (k <- keyCols; ta <- a.declaredType(k); tb <- b.declaredType(k))
      require(ta == tb, s"key $k maps to different logical types: $ta vs $tb")

    // runs `f` on both sides at once; the Spark side keeps the caller's thread
    def both[T](f: Side => T): (T, T) = {
      val (here, there) = if (b.local) (b, a) else (a, b)
      val away = Future(f(there))
      val mine = f(here)
      val theirs = Await.result(away, Duration.Inf)
      if (here eq a) (mine, theirs) else (theirs, mine)
    }

    // Mutual normalization KIND per column: two catalogs can map the same
    // data to different numeric kinds (BIGINT vs NUMBER(18,0)); rendering
    // one side through the integer branch ("5") and the other through the
    // decimal branch ("5.00") would mismatch EVERY checksum, defeat all
    // pruning, and report every row as a spurious -/+ pair. Both-integral
    // pairs keep the integer rendering; any fractional side forces the
    // decimal rendering on both (CASTing an integer column to
    // DECIMAL(38,p) is valid in every dialect); kind mismatches beyond
    // numeric refuse loudly. A Spark side declares nothing: it normalizes
    // its own typed columns, and the remote's RemoteTable.schema already is
    // the mutual Spark-side schema.
    def kind(t: DataType): String = t match {
      case TimestampType | TimestampNTZType => "ts"
      case DateType => "date"
      case DoubleType | FloatType | _: DecimalType => "frac"
      case ByteType | ShortType | IntegerType | LongType => "int"
      case BooleanType => "bool"
      case StringType => "str"
      case _ => "other"
    }
    val normType: Map[String, DataType] = relevant.map { c =>
      c -> ((a.declaredType(c), b.declaredType(c)) match {
        case (Some(ta), Some(tb)) => (kind(ta), kind(tb)) match {
          case (x, y) if x == y => ta
          case ("int", "frac") | ("frac", "int") => DecimalType(38, a.fracPrecision)
          case _ => throw new IllegalArgumentException(
            s"column $c maps to incompatible kinds across engines: $ta vs $tb — " +
              "restrict the compare (--columns/--ignore) or cast in a remote view")
        }
        case (ta, tb) => ta.orElse(tb).get
      })
    }.toMap

    // Overflow-safe concat is contagious: if either side's dialect needs it,
    // both sides hash items before concatenation (reference:
    // diff_tables.py:228-231). A Spark side follows; two remote profiles
    // render concat per their own fixed mode, so a mixed pair refuses
    // loudly rather than silently producing incomparable checksums.
    val concatModes = sides.flatMap(_.concatMode).distinct
    require(concatModes.size <= 1,
      "overflow-safe concat must be negotiated to the same mode on both profiles " +
        "(pair the overflow-safe engine with a like-moded profile, or diff each " +
        "against a common Spark-readable staging copy)")

    // text keys: segment bounds are STRING comparisons evaluated by both
    // sides — the orderings must agree or segments select different row
    // sets on each side (silent row loss). Spark compares UTF8-binary.
    // When a side's collation is merely CASE-INSENSITIVE (the common
    // warehouse misconfiguration — CI SQL Server collations, Derby
    // TERRITORY_BASED:SECONDARY, DuckDB NOCASE), the diff still runs: BOTH
    // sides case-fold every SEGMENTATION artifact (range probes, segment
    // bound predicates, the local range-join) so each key lands in the same
    // segment on both engines — the reference's damage-absorbed conversion
    // (abcs/database_types.py:52-100), emitted as UPPER() in the pushed SQL
    // rather than a refusal. (Folding one side only would not do: bounds
    // generated in folded space mis-select raw mixed-case keys on an
    // ordinal side.) Checksums and the leaf compare stay on RAW values, so
    // rows differing only in key case are still reported as the -/+ pair
    // they genuinely are. The fold is sound ONLY on strictly [A-Za-z0-9]
    // key values (binary and locale orders agree there: digits before
    // letters, letters alphabetical) — the segmentable base-66 alphabet
    // also admits ' ', '-' and '_', which sort after 'Z' in binary order but
    // before letters under UCA-style locale collations, so their presence
    // is VERIFIED absent on both sides before folding (full-data checks; a
    // 64-row sample is not a proof). Accent sensitivity must be declared
    // Some(true) — unknown accent behavior can reorder keys in ways no case
    // fold repairs.
    // Beyond the CI fold: when an ordering is INCOMPARABLE with binary
    // (locale/territory collations, undeclared accent behavior, CI keys
    // whose content fails the alnum proof), segmentation switches to the
    // HEX PROJECTION (SourceProfile.hexKeyProjectionSql): every
    // segmentation artifact runs over the uppercase hex of the key's first
    // 16 UTF-8 bytes, a fixed-width [0-9A-F] space where binary and every
    // locale ordering agree by construction (and whose 32-hex values ride
    // the existing 128-bit UUID key arithmetic, so generated bounds are
    // always 32-hex too — never a base-66 split that could reintroduce
    // collation-sensitive characters like '_'). It is the shared key space,
    // so BOTH sides must render it. Keys sharing a 16-byte prefix tie into
    // one projected value: both engines agree they tie, the box just can't
    // split below the class and its rows leaf-compare together. Only a
    // dialect with no UTF-8 hex rendering still refuses (the reference's own
    // keep-running damage absorption, abcs/database_types.py:52-100).
    val stringKeys = keyCols.filter(normType(_) == StringType)
    val verdicts = sides.map(s => (s, Collation.negotiate(Collation.SparkBinary, s.keyCollation)))
    val (foldKeys, hexKeys): (Set[String], Set[String]) =
      if (stringKeys.isEmpty || verdicts.forall(_._2 == Right(None))) (Set.empty, Set.empty)
      else {
        val ciFoldEligible = verdicts.forall {
          case (_, Right(None)) => true
          case (s, Right(Some(_))) => s.keyCollation.caseSensitive.contains(false) &&
            s.keyCollation.accentSensitive.contains(true)
          case (_, Left(_)) => false
        }
        val cantProject = sides.filterNot(_.canProjectHex)
        def project(): (Set[String], Set[String]) =
          if (cantProject.isEmpty) (Set.empty[String], stringKeys.toSet)
          else throw new IllegalArgumentException(
            "text-key collations are not mutually ordinal and cannot be absorbed, " +
              s"and profile(s) ${cantProject.map(_.name).mkString(", ")} " +
              "have no UTF-8 hex projection to segment on: key-range predicates " +
              "would select different rows per engine. Cast the key to a binary " +
              "collation, or diff on a derived ordinal key.")
        // the fold is preferred when provable: raw-ish bounds keep the
        // remote's own key-column statistics/indexes usable
        if (ciFoldEligible) {
          try {
            sides.foreach(_.requireStrictAlnum(stringKeys))
            (stringKeys.toSet, Set.empty[String])
          } catch {
            case e: IllegalArgumentException =>
              if (cantProject.isEmpty) project()
              else throw e // the fold refusal already names the remedy
          }
        } else project()
      }

    // UUID casing alignment: a lowercase-UUID side and an uppercase-UUID
    // side must diff clean. When BOTH sides classify a text column as
    // consistently-cased UUIDs, both render it casing-canonical before
    // checksumming (reference: databases/base.py:884-887 normalize_uuid;
    // casing metadata abcs/database_types.py:222-234). One uuid side + one
    // non-uuid side stays raw text compare — the values genuinely differ in
    // form and must be reported, not masked. A Spark side may have to
    // sample to classify, so it only looks at what the other side tagged.
    val uuidAligned = sides.sortBy(_.local).foldLeft(
      relevant.filter(normType(_) == StringType).toSet)((cs, s) => s.uuidCols(cs))

    // UUID-aligned KEY columns segment in LOWERED space: checksums and the
    // leaf join already compare them lowercased, so cutting segments on RAW
    // values would put the same logical row in different boxes per side —
    // nothing would ever prune, and in progressive mode the two boxes can
    // leaf at different levels and emit a spurious -/+ pair for an
    // identical row. (Fold/hex collation handling takes precedence: those
    // already define the shared segmentation space.)
    val plan = Plan(
      keyCols.map(k => k -> (if (foldKeys(k)) Fold else if (hexKeys(k)) Hex
        else if (uuidAligned(k)) Lower else Raw)).toMap,
      uuidAligned, concatModes.headOption.getOrElse(false), normType, bisectionFactor)

    /** A probed or sampled key value → the key-space value: remote sides
      * report text, a Spark side typed values, both already in segmentation
      * space. */
    def parse(k: String, v: Any): Any = v match {
      case s: String => normType(k) match {
        case ByteType | ShortType | IntegerType | LongType => java.lang.Long.valueOf(s.trim.toLong)
        // decimal surrogate keys: scale 0 joins the BigInt key space
        // (reference: abcs/database_types.py:196-201 Decimal(precision=0)
        // is an IKey); fractional-scale keys cannot segment exactly
        case dt: DecimalType if dt.scale == 0 => new java.math.BigDecimal(s.trim)
        case StringType => s
        case other => throw new IllegalArgumentException(
          s"unsupported key type for $k: $other (decimal keys must have scale 0)")
      }
      case typed => typed
    }
    // All values of a dim parse UNIFORMLY: a string column must pick UUID vs
    // base-66 arithmetic ONCE across both sides' values (a per-value choice
    // could put a 128-bit "min" above a base-66 "max" and degenerate the
    // bisection). Hex-projected dims parse DIRECTLY as 128-bit keys: values
    // are 32-hex by construction, and the uniform-UUID heuristic must not
    // get a vote (an all-digit hex value would read as "lowercase" and tip
    // the set into base-66 arithmetic, whose splits can emit
    // collation-sensitive bound characters). Overflow on `.next` is
    // impossible: valid UTF-8 never contains a 0xFF byte, so a projected max
    // is always below 2^128 − 1.
    def toKeys(k: String, vs: Seq[Any]): Seq[KeySpace.Key] =
      if (plan.mode(k) == Hex) vs.map(s => KeySpace.UuidKey(
        BigInt(s.asInstanceOf[String], 16), uppercase = true, dashed = false))
      else TableSegment.toKeys(vs)

    // ---- combined key range over both sides ------------------------------
    // (reference: diff_tables.py:289-321 queries both ranges concurrently
    // and takes the widest box, so rows present on only one side are always
    // covered). Converted keys probe MIN/MAX of the CONVERSION on each side:
    // probing raw and converting afterwards is wrong, fold∘min ≠ min∘fold
    // under binary order (binary min "ZEBRA" of {"ZEBRA","apple"} folds to
    // "ZEBRA", but the folded space's min is "APPLE"), so a raw probe can
    // build a root box that EXCLUDES rows and silently under-reports.
    val (rangeA, rangeB) = both(_.keyRange(plan))
    val dims = keyCols.zipWithIndex.map { case (k, i) =>
      // a side is either fully present or fully absent, so even positions
      // are mins and odd ones maxs
      val raws = Seq(rangeA(i * 2), rangeA(i * 2 + 1), rangeB(i * 2), rangeB(i * 2 + 1))
        .flatten.map(parse(k, _))
      if (raws.isEmpty) None
      else {
        val pairs = toKeys(k, raws).grouped(2).toSeq
        Some((pairs.map(_.head).reduce((x, y) => if ((x - y) <= 0) x else y),
          pairs.map(_(1)).reduce((x, y) => if ((x - y) >= 0) x else y).next)) // exclusive hi
      }
    }
    def emptyResult(cols: Seq[String]) = a.spark.createDataFrame(Seq.empty[Row].asJava,
      StructType(StructField("sign", StringType, nullable = false) +:
        cols.map(StructField(_, StringType, nullable = true))))
    if (dims.exists(_.isEmpty)) // both sides empty; honor pre-call ignoreColumn drops
      return (emptyResult(keyCols ++ compare.filterNot(control.ignored)),
        PushdownStats(0, 0, 0, 0, a.statements + b.statements, 0))
    val rootBox: Box = (dims.map(_.get._1), dims.map(_.get._2))

    def splitBox(box: Box): Seq[Box] = {
      // the factor budgets the TOTAL child count: compound keys take the
      // Nth root per dimension (reference: table_segment.py:189-197),
      // floored at 2 so a split always narrows — factor-per-dimension
      // would fan out factor^k children per level
      val perDim =
        if (box._1.size == 1) bisectionFactor
        else math.max(2, math.pow(bisectionFactor.toDouble, 1.0 / box._1.size).toInt)
      val grids = box._1.zip(box._2).map { case (lo, hi) =>
        if (hi - lo < 2) Seq(lo, hi) else KeySpace.splitKeySpace(lo, hi, perDim)
      }
      KeySpace.createMeshFromPoints(grids).map { case (lo, hi) => (lo.values, hi.values) }
    }

    // ---- quantile splits (control.quantileSeed) -----------------------------
    // Cut every box that needs splitting — the root at level 0, dirty parents
    // at each deeper level — at sampled ROW quantiles instead of arithmetic
    // mid-widths (see the knob's doc). The sampling side is a Spark side if
    // there is one (its own sample is one local pass); between two remote
    // sides, each parent samples on its larger side, the side whose rows the
    // split must balance. Checkpoints parse through the same uniform key
    // arithmetic as the root bounds, are clamped strictly inside the parent
    // and deduped; a parent with no usable checkpoints (e.g. dirty only from
    // rows the sampling side cannot see, or a sampled string the key
    // arithmetic cannot represent — dots, non-ASCII — when the min/max
    // happened to parse) falls back to the arithmetic split. Splits only
    // refine HOW a box is partitioned, never its coverage, so correctness is
    // untouched by construction. Single-column keys only (compound keys
    // always use the arithmetic mesh).
    val quantileActive = control.quantileSeed && keyCols.size == 1
    def samplerOf(rowsA: Long, rowsB: Long): Side =
      sides.find(_.local).getOrElse(if (rowsA >= rowsB) a else b)
    def quantileChildren(box: Box, raw: Seq[Any]): Option[Seq[Box]] = Try {
      val k = keyCols.head
      val (lo, hi) = (box._1.head, box._2.head)
      // the bounds join the parse so a text key picks the same arithmetic
      val sorted = toKeys(k, Seq(lo, hi).map(TableSegment.fromKey) ++ raw.map(parse(k, _)))
        .drop(2).sortWith((x, y) => (x - y) < 0)
      val interior = (1 until bisectionFactor)
        .map(j => sorted((j * sorted.size) / bisectionFactor))
        .filter(c => (c - lo) > 0 && (hi - c) > 0)
        .distinct.sortWith((x, y) => (x - y) < 0)
      if (interior.isEmpty) None
      else Some(((lo +: interior) :+ hi).sliding(2).map(p => (Seq(p(0)), Seq(p(1)))).toSeq)
    }.toOption.flatten
    /** Children for every split candidate (box, larger side's rows, sampling
      * side): quantile where usable, arithmetic otherwise. Each side samples
      * its parents in one batch; the two sides run concurrently. */
    def splitAll(cands: Seq[(Box, Long, Side)]): Seq[Seq[Box]] = {
      val raw: Map[Int, Seq[Any]] =
        if (!quantileActive || cands.isEmpty) Map.empty
        else {
          val (ra, rb) = both { s =>
            val mine = cands.zipWithIndex.filter(_._1._3 eq s)
            s.samples(plan, mine.map { case ((box, rows, _), _) => (box, rows) })
              .map { case (j, vs) => mine(j)._2 -> vs }
          }
          ra ++ rb
        }
      cands.zipWithIndex.map { case ((box, _, _), i) =>
        raw.get(i).flatMap(quantileChildren(box, _)).getOrElse(splitBox(box))
      }
    }

    // ---- leaf compare (end of loop, or per level when progressive) --------
    // All leaf rows cross the wire once, normalized (reference:
    // table_segment.py:214-237 get_values), from both sides concurrently, and
    // a single join produces the -/+ rows (diff_sets, hashdiff_tables.py:
    // 30-88, expressed relationally).
    def compareLeaves(leafSeq: Seq[Box], cmpCols: Seq[String]): DataFrame = {
      val (dfA, dfB) = both(_.fetch(plan, leafSeq, cmpCols))
      JoinDiffer.diff(dfA, dfB, keyCols, cmpCols)
    }

    val leaves = ArrayBuffer.empty[Box]
    val emitted = ArrayBuffer.empty[DataFrame]
    var frontier: Seq[Box] =
      if (!quantileActive) splitBox(rootBox)
      else {
        // level-0 seed: the root box through the same splitter. A Spark
        // side sizes its sample from one column-pruned count(); between two
        // remotes one COUNT per side (concurrent, so one round-trip; columnar
        // warehouses answer it from metadata) picks the larger side. A
        // failed COUNT must not kill the diff any more than a failed sample
        // statement does: the surviving side (or side b) is sampled, and
        // the arithmetic split stays the floor.
        val (rows, sampler) = sides.find(_.local) match {
          case Some(s) => (s.rowCount().get, s)
          case None => // an unknown count loses to any known one
            val (na, nb) = both(_.rowCount())
            (1L, samplerOf(na.getOrElse(-1L), nb.getOrElse(0L)))
        }
        splitAll(Seq((rootBox, math.max(1L, rows), sampler))).head
      }
    var level = 0
    var probed = 0
    var pruned = 0
    var cutoverAt: Option[Int] = None
    val levelMillis = ArrayBuffer.empty[Long]

    // ---- level-at-a-time bisection, batched at MaxSegmentsPerQuery --------
    while (frontier.nonEmpty) {
      require(level < MaxLevels, s"bisection did not converge after $MaxLevels levels")
      val levelSegments = frontier.size
      val prunedAtStart = pruned
      val leavesAtStart = leaves.size
      val levelStart = System.nanoTime()
      probed += levelSegments

      // re-plan per level: columns dropped via control.ignoreColumn since
      // the previous level leave the checksums NOW (reference re-plans the
      // same way, diff_tables.py:196-199)
      val activeCompare = compare.filterNot(control.ignored)
      // parents needing a split this level — split together AFTER the chunk
      // loop so each side samples all of its parents in one batch
      val splitCands = ArrayBuffer.empty[(Box, Long, Side)]
      frontier.grouped(MaxSegmentsPerQuery).foreach { chunk =>
        val (ma, mb) = both(_.checksums(plan, chunk, activeCompare))
        chunk.zipWithIndex.foreach { case (box, i) =>
          val (sa, sb) = (ma.getOrElse(i, NoRows), mb.getOrElse(i, NoRows))
          val rows = math.max(sa._1, sb._1)
          if (sa == sb) pruned += 1
          else if (rows < bisectionThreshold) leaves += box
          else splitCands += ((box, rows, samplerOf(sa._1, sb._1)))
        }
      }
      val next = ArrayBuffer.empty[Box]
      val splitParents = ArrayBuffer.empty[Box]
      // upper bound on rows in the next frontier: each split parent's
      // larger side count (its children hold exactly its rows)
      var nextFrontierRows = 0L
      splitAll(splitCands.toSeq).zip(splitCands).foreach { case (children, (box, rows, _)) =>
        if (children.size <= 1) leaves += box // key space too small to cut
        else {
          next ++= children; splitParents += box
          nextFrontierRows += rows
        }
      }
      frontier = next.toSeq
      // dense-diff cutover (see PushdownControl.denseCutover): sustained
      // non-pruning levels (or a provably tiny frontier) → the tables differ
      // everywhere bisection can see, so stop paying for checksums that
      // cannot prune and bulk-fetch the remainder as leaves instead.
      if (frontier.nonEmpty && control.denseCutover(level + 1, probed, pruned,
          nextFrontierRows, bisectionThreshold)) {
        // Candidate cutover. A small frontier is safe to fetch outright;
        // otherwise confirm density by checksumming the children of a
        // strided sample of split parents: dense tables keep every child
        // dirty, scattered diffs prune most children clean and the veto
        // keeps the loop bisecting.
        val confirmed = nextFrontierRows <=
          PushdownControl.DenseCutoverFrontierFactor.toLong * bisectionThreshold || {
          val maxParents = math.max(1, MaxSegmentsPerQuery / bisectionFactor)
          val stride = math.max(1, splitParents.size / maxParents)
          val sample = splitParents.indices
            .collect { case i if i % stride == 0 => splitParents(i) }
            .take(maxParents)
          // compound keys can fan out up to 2^dims children per parent, so
          // the sample's children can exceed one statement's cap — batch
          // the confirm query like every other checksum round
          val children = sample.flatMap(splitBox)
          val clean = children.grouped(MaxSegmentsPerQuery).map { cchunk =>
            val (ma, mb) = both(_.checksums(plan, cchunk, activeCompare))
            cchunk.indices.count(i => ma.getOrElse(i, NoRows) == mb.getOrElse(i, NoRows))
          }.sum
          clean.toDouble / children.size < PushdownControl.DenseCutoverPruneRate
        }
        if (confirmed) {
          cutoverAt = Some(level)
          // Granularity follows the fetch path. A text side takes the PARENT
          // boxes (same rows, factor× fewer range predicates in the bulk
          // statement). A JDBC side paired with a Spark frame keeps the
          // just-split children — each predicate becomes one partition of
          // the spark.read.jdbc scan, and in the dense regime the fetch is
          // most of the table, so partition count is the parallelism.
          // Between two remotes the parents stay: every partition opens its
          // own session on its engine, and the two sides already fetch at
          // once (factor× the sessions on a Thrift endpoint cost minutes).
          leaves ++= (if (sides.exists(_.local) && sides.forall(_.parallelFetch)) frontier
            else splitParents)
          frontier = Seq.empty
        }
      }
      levelMillis += (System.nanoTime() - levelStart) / 1000000
      control.onLevel(PushdownLevel(level, levelSegments, pruned - prunedAtStart, levelMillis.last))
      // progressive: this level's fresh leaves are compared NOW, while the
      // next level's frontier is still uncooked — rows reach the caller
      // before the loop finishes
      if (control.progressive && leaves.size > leavesAtStart) {
        val df = compareLeaves(leaves.slice(leavesAtStart, leaves.size).toSeq, activeCompare)
        emitted += df
        control.onLeafDiff(level, df)
      }
      level += 1
    }

    // the (final) leaf compare runs on whatever survived mid-flight drops
    val finalCompare = compare.filterNot(control.ignored)
    val finalRelevant = keyCols ++ finalCompare
    val out =
      // progressive: every leaf was already compared (and emitted) per level;
      // the result is their union projected onto the final column set —
      // columns dropped after a level was emitted are dropped here too, so
      // the DataFrames union cleanly
      if (control.progressive)
        if (emitted.isEmpty) emptyResult(finalRelevant)
        else emitted.map(_.select(("sign" +: finalRelevant).map(col): _*)).reduce(_ union _)
      else if (leaves.isEmpty) emptyResult(finalRelevant)
      else compareLeaves(leaves.toSeq, finalCompare)
    (out, PushdownStats(level, probed, pruned, leaves.size, a.statements + b.statements,
      a.fetchedRows + b.fetchedRows, levelMillis.toSeq,
      compare.filterNot(finalCompare.contains), cutoverAt))
  }
}

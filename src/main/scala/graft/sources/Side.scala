package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.diff.{Checksum, KeySpace, SchemaTools, TableSegment}
import Bisection.{Box, Fold, Hex, Lower, MaxSegmentsPerQuery, Plan, Raw, Summary}

/** One side of a [[Bisection]]: a Spark frame or a table behind a remote
  * engine. The engine decides everything; a side renders the negotiated
  * [[Plan]] in its own language and keeps count of what that cost —
  * `statements` remote round-trips, `fetchedRows` leaf rows pulled across
  * the wire. One diff never calls the same side from two threads at once. */
private[graft] sealed abstract class Side(val spark: SparkSession, val keyCols: Seq[String],
    val relevantCols: Seq[String], val fracPrecision: Int, val tsPrecision: Int,
    val keyCollation: Collation, val name: String,
    /** The overflow-safe concat mode the dialect is fixed to; None = follows
      * the other side. */
    val concatMode: Option[Boolean],
    /** Leaves fetch as partitions read in parallel (a Spark frame, JDBC). */
    val parallelFetch: Boolean) {
  /** A Spark frame works on the caller's thread, samples its own quantiles. */
  final def local: Boolean = isInstanceOf[SparkSide]
  var statements = 0
  var fetchedRows = 0L

  /** The logical type this side declares for `c`; None for a Spark frame,
    * which normalizes its own typed columns. */
  def declaredType(c: String): Option[DataType]
  def canProjectHex: Boolean
  /** Refuses unless every value of `keys` is strictly [A-Za-z0-9], the
    * license for the case-insensitive collation fold. */
  def requireStrictAlnum(keys: Seq[String]): Unit
  /** Those of `cols` this side classifies as consistently-cased UUID text. */
  def uuidCols(cols: Set[String]): Set[String]
  /** (min, max) per key column in segmentation space — remote sides as
    * text, a Spark side typed; None where the side has no rows. */
  def keyRange(p: Plan): Seq[Option[Any]]
  def rowCount(): Try[Long]
  /** Summaries of `boxes` by position; boxes with no rows may be absent. */
  def checksums(p: Plan, boxes: Seq[Box], compare: Seq[String]): Map[Int, Summary]
  /** Key values to cut quantile checkpoints from, by parent position.
    * `rows` is the parent's larger side count. */
  def samples(p: Plan, parents: Seq[(Box, Long)]): Map[Int, Seq[Any]]
  /** The normalized key and `compare` columns of every row in `leaves`. */
  def fetch(p: Plan, leaves: Seq[Box], compare: Seq[String]): DataFrame

  /** A column's text class tag (SchemaTools.StringClassKey), if any. */
  protected def classOf(f: StructField): Option[String] = Some(f.metadata)
    .filter(_.contains(SchemaTools.StringClassKey)).map(_.getString(SchemaTools.StringClassKey))
}

/** A Spark-readable side: range-join checksums, local quantile sampling and
  * the local leaf read. */
private[graft] final case class SparkSide(seg: TableSegment) extends Side(seg.df.sparkSession,
    seg.keyCols, seg.relevantCols, seg.fracPrecision, seg.tsPrecision, Collation.SparkBinary,
    "spark", concatMode = None, parallelFetch = true) {
  def declaredType(c: String): Option[DataType] = None
  def canProjectHex: Boolean = true

  /** One column-pruned scan with limit-1 early exit over all candidate
    * keys. */
  def requireStrictAlnum(keys: Seq[String]): Unit =
    if (!seg.df.select(keys.map(col): _*)
        .where(keys.map(k => col(k).rlike("[^A-Za-z0-9]")).reduce(_ || _)).isEmpty)
      throw new IllegalArgumentException(
        s"case-insensitive collation fold refused: local key(s) ${keys.mkString(", ")} " +
          "contain values outside [A-Za-z0-9]; range bounds generated from them would " +
          "not order the same way on the collated remote. Cast the key to a binary " +
          "collation, or diff on a derived ordinal key.")

  /** Explicit field metadata when present, else the same 64-row sample
    * refinement remote introspection runs. */
  def uuidCols(cols: Set[String]): Set[String] = {
    val toSample = cols.toSeq.filter(c => classOf(seg.df.schema(c)).isEmpty)
    val sampled: Map[String, String] =
      if (toSample.isEmpty) Map.empty
      else SchemaTools.refineStringColumns(seg.scoped, toSample)
        .map { case (c, cls) => c -> SchemaTools.tagOf(cls) }
    cols.filter(c => classOf(seg.df.schema(c)).orElse(sampled.get(c)).exists(_.startsWith("uuid")))
  }

  /** The segment with uuid-aligned columns tagged so Normalize renders them
    * lowercase. */
  private def aligned(p: Plan): TableSegment =
    if (p.uuidAligned.isEmpty) seg
    else seg.copy(df = seg.df.select(seg.df.columns.toSeq.map { c =>
      if (p.uuidAligned(c))
        col(c).as(c, new MetadataBuilder()
          .putString(SchemaTools.StringClassKey, "uuid-lower").build())
      else col(c)
    }: _*))

  /** The key in segmentation space. The hex projection is byte-identical
    * to every profile's rendering: uppercase hex of the first 16 UTF-8
    * bytes, right-padded with '0' to 32. */
  private def keyCol(p: Plan, k: String): Column = p.mode(k) match {
    case Fold => upper(col(k))
    case Hex => rpad(substring(upper(hex(encode(col(k), "UTF-8"))), 1, 32), 32, "0")
    case Lower => lower(col(k))
    case Raw => col(k)
  }

  def keyRange(p: Plan): Seq[Option[Any]] = {
    seg.scoped.select(keyCols.flatMap(k => Seq(min(keyCol(p, k)), max(keyCol(p, k)))): _*)
      .head().toSeq.map(Option(_))
  }

  def rowCount(): Try[Long] = Try(seg.scoped.select(col(keyCols.head)).count())

  // ---- segment-bounds table + range-join bucket assignment ----------------
  // Bucket ids come from an inner range-join against a broadcast bounds
  // table, not a nested CASE: a CASE grows one codegen branch per segment
  // (past Janino's 64 KB method limit around a few thousand) while the join
  // keeps the local plan constant-size at any batch width. Boxes are
  // disjoint, so each row matches at most one bounds row.
  private val SegField = "__graft_seg"
  private def boundsDf(boxes: Seq[Box], mods: Seq[Long] = Nil): DataFrame = {
    // bound columns take the LOCAL key column's family so the range-join
    // compares without lossy casts: integral → LongType, decimal-keyed →
    // DecimalType(38,0) (a Long bound would wrap past 2^63), text → string
    val types: Seq[DataType] = keyCols.zip(boxes.head._1).map {
      case (k, KeySpace.IntKey(_)) => seg.df.schema(k).dataType match {
        case _: DecimalType => DecimalType(38, 0)
        case _ => LongType
      }
      case _ => StringType // uuid / alphanum keys render to string bounds
    }
    def bound(d: Int, k: KeySpace.Key): Any = (k, types(d)) match {
      case (KeySpace.IntKey(v), _: DecimalType) => new java.math.BigDecimal(v.bigInteger)
      case _ => TableSegment.fromKey(k)
    }
    val fields = StructField(SegField, IntegerType, nullable = false) +:
      (keyCols.indices.flatMap(d => Seq(
        StructField(s"__graft_lo_$d", types(d), nullable = false),
        StructField(s"__graft_hi_$d", types(d), nullable = false))) ++
      mods.headOption.map(_ => StructField("__mod", LongType, nullable = false)))
    val rows = boxes.zipWithIndex.map { case (box, i) =>
      Row.fromSeq(i +: (keyCols.indices.flatMap(d =>
        Seq(bound(d, box._1(d)), bound(d, box._2(d)))) ++ mods.lift(i)))
    }
    spark.createDataFrame(rows.asJava, StructType(fields.toArray))
  }
  private def rangeJoinCond(p: Plan): Column = keyCols.zipWithIndex.map { case (k, d) =>
    keyCol(p, k) >= col(s"__graft_lo_$d") && keyCol(p, k) < col(s"__graft_hi_$d")
  }.reduce(_ && _)
  /** The rows of `boxes`: the batch's bounding box is an O(dims) sargable
    * cover predicate that reaches the scan (parquet min/max pruning), so a
    * late level reads only the frontier's slice; precise membership comes
    * from the range join. */
  private def within(p: Plan, compare: Seq[String], boxes: Seq[Box]): TableSegment = {
    aligned(p).copy(extraCols = compare).withExtraFilter(keyCols.zipWithIndex.map { case (k, d) =>
      val lo = boxes.map(_._1(d)).reduce((x, y) => if ((x - y) <= 0) x else y)
      val hi = boxes.map(_._2(d)).reduce((x, y) => if ((x - y) >= 0) x else y)
      keyCol(p, k) >= lit(TableSegment.fromKey(lo)) && keyCol(p, k) < lit(TableSegment.fromKey(hi))
    }.reduce(_ && _))
  }

  /** One Spark job for the whole batch. */
  def checksums(p: Plan, boxes: Seq[Box], compare: Seq[String]): Map[Int, Summary] = {
    val s = within(p, compare, boxes)
    val rowCk = if (p.overflowSafe) Checksum.rowChecksumOverflowSafe(s.normCols)
                else Checksum.rowChecksum(s.normCols)
    s.scoped.join(broadcast(boundsDf(boxes)), rangeJoinCond(p))
      .groupBy(col(SegField).as("seg"))
      .agg(count(lit(1)).as("cnt"), sum(rowCk.cast(DecimalType(38, 0))).as("checksum"))
      .collect().map { r =>
        r.getInt(0) -> ((r.getLong(1): Long),
          if (r.isNullAt(2)) None else Some(BigDecimal(r.getDecimal(2))))
      }.toMap
  }

  /** ALL parents split in ONE Spark job: sampled keys range-join the parent
    * bounds, one ntile window partitioned by parent assigns buckets, and the
    * min keys of buckets 2..factor are the parent's checkpoints (traffic
    * to the coordinator: ≤ parents × (factor−1) values). */
  def samples(p: Plan, parents: Seq[(Box, Long)]): Map[Int, Seq[Any]] =
    if (parents.isEmpty) Map.empty
    else {
      val k = keyCols.head
      val boxes = parents.map(_._1)
      // Per-parent sampling modulus: each parent samples ~factor·200 of ITS
      // OWN keys. One global modulus sized from the largest parent would
      // sample ~0 keys from small parents in the same level (1e9-row parent
      // next to 2e4-row parents → mod ~156k → 0.13 sampled keys) and
      // silently push them to the arithmetic fallback. The mod rides the
      // broadcast bounds table and filters AFTER the range join assigns the
      // parent.
      val bounds = boundsDf(boxes, parents.map(c => math.max(1L, c._2 / (p.factor.toLong * 200))))
      val sampled = within(p, relevantCols.drop(keyCols.size), boxes).scoped
        .select(keyCol(p, k).as("__ck"),
          graft.functions.Md5Bits48.head(col(k).cast("string")).as("__h"))
        .join(broadcast(bounds), col("__ck") >= col("__graft_lo_0") && col("__ck") < col("__graft_hi_0"))
        .where(pmod(col("__h"), col("__mod")) === 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(SegField)).orderBy(col("__ck"))
      sampled.withColumn("__b", ntile(p.factor).over(w))
        .where(col("__b") > 1)
        .groupBy(col(SegField), col("__b")).agg(min(col("__ck")).as("cp"))
        .collect().toSeq.groupBy(_.getInt(0))
        .map { case (i, rs) => i -> rs.sortBy(_.getInt(1)).map(_.get(2)) }
    }

  /** Lazy: the local read joins the compare, so it costs no job of its own
    * and pulls nothing across a wire. */
  def fetch(p: Plan, leaves: Seq[Box], compare: Seq[String]): DataFrame = {
    val leaf = within(p, compare, leaves)
    leaf.scoped.join(broadcast(boundsDf(leaves)), rangeJoinCond(p))
      .select((keyCols ++ compare).zip(leaf.normCols).map { case (n, c) => c.as(n) }: _*)
  }
}

/** A table reachable only through `engine.query(sql)`: grouped checksum
  * SQL, dialect-level quantile samples, and a JDBC-partitioned or text leaf
  * fetch. */
private[graft] final case class RemoteSide(session: SparkSession, t: RemoteTable)
    extends Side(session, t.keyCols, t.relevantCols, t.fracPrecision, t.tsPrecision,
      t.keyCollation, t.engine.profile.name, Some(t.engine.profile.preventOverflowWhenConcat),
      parallelFetch = t.engine.jdbcSource.isDefined) {
  private val dialect = t.engine.profile
  def declaredType(c: String): Option[DataType] = Some(t.schema(c).dataType)
  def canProjectHex: Boolean = dialect.hexKeyProjectionSql("x").isDefined

  private def where(pred: String): String = t.extraWhereSql.fold(pred)(e => s"($pred) AND ($e)")
  /** A round-trip that counts as one of the diff's remote statements. */
  private def query(sql: String): Seq[Seq[Option[String]]] = { statements += 1; t.engine.query(sql) }

  /** One COUNT probe per text key through the dialect's non-alnum
    * predicate. A profile that cannot express the check refuses the fold —
    * never assumes. Full-table by design: a sample is not a proof, and the
    * probe is a single aggregate the remote runs at scan speed, paid only on
    * the already-exceptional CI-collation path. */
  def requireStrictAlnum(keys: Seq[String]): Unit = keys.foreach { k =>
    val pred = dialect.nonAlnumPredicateSql(dialect.quote(k)).getOrElse(
      throw new IllegalArgumentException(
        s"case-insensitive collation fold refused: the ${dialect.name} profile cannot " +
          s"verify key '$k' is strictly [A-Za-z0-9] (no non-alphanumeric probe), " +
          "and characters like ' ', '-', '_' order differently under locale " +
          "collations than in binary, so folded bounds could silently select " +
          "different rows. Cast the key to a binary collation in the remote " +
          "table/view, or diff on a derived ordinal key."))
    val n = t.engine.query(s"SELECT COUNT(*) FROM ${t.table} WHERE ${where(pred)}")
      .head.head.map(_.trim.toLong).getOrElse(0L)
    if (n > 0) throw new IllegalArgumentException(
      s"case-insensitive collation fold refused: key '$k' has $n remote value(s) " +
        "outside [A-Za-z0-9] — ' ', '-' and '_' sort after 'Z' in binary order but " +
        "before letters under locale collations, so no case fold makes the " +
        "orderings agree. Cast the key to a binary collation in the remote " +
        "table/view, or diff on a derived ordinal key.")
  }

  /** Introspection metadata (RemoteSchema tags consistently-cased UUID
    * text). */
  def uuidCols(cols: Set[String]): Set[String] = cols.filter(c =>
    t.schema(c).dataType == StringType && classOf(t.schema(c)).exists(_.startsWith("uuid")))

  /** The key in segmentation space — the ONE spelling shared by range
    * probes, segment predicates, leaf-fetch aliases and quantile sampling. */
  private def keySql(p: Plan, k: String): String = p.mode(k) match {
    case Fold => s"UPPER(${dialect.quote(k)})"
    case Hex => dialect.hexKeyProjectionSql(dialect.quote(k)).get
    case Lower => s"LOWER(${dialect.quote(k)})"
    case Raw => dialect.quote(k)
  }
  private def inBox(exprs: Seq[String], box: Box): String =
    exprs.zip(box._1.map(TableSegment.fromKey)).zip(box._2.map(TableSegment.fromKey))
      .map { case ((e, lo), hi) =>
        s"$e >= ${dialect.literal(lo)} AND $e < ${dialect.literal(hi)}" }
      .mkString(" AND ")
  private def pred(p: Plan, box: Box): String = inBox(keyCols.map(keySql(p, _)), box)
  private def normSql(p: Plan, c: String): String =
    dialect.normalizedColumnSql(c, p.normType(c), t.fracPrecision, t.tsPrecision,
      stringClass = if (p.uuidAligned(c)) Some("uuid-lower") else None)

  def keyRange(p: Plan): Seq[Option[Any]] =
    query(dialect.keyRangeExprsSql(t.table, keyCols.map(keySql(p, _)), t.extraWhereSql)).head

  def rowCount(): Try[Long] = Try(query(s"SELECT COUNT(*) AS cnt FROM ${t.table}" +
    t.extraWhereSql.fold("")(e => s" WHERE $e")).head.head.get.trim.toLong)

  def checksums(p: Plan, boxes: Seq[Box], compare: Seq[String]): Map[Int, Summary] =
    query(dialect.segmentedChecksumSql(t.table,
      (keyCols ++ compare).map(normSql(p, _)), boxes.map(pred(p, _)), t.extraWhereSql))
      .map { r =>
        r(0).get.trim.toInt -> ((r(1).get.trim.toLong: Long), r(2).map(s => BigDecimal(s.trim)))
      }.toMap

  // A remote side has no Spark-readable rows to sample, so checkpoints come
  // from a DIALECT-LEVEL deterministic sample: `sampleSql(keyExpr, n, where
  // = parent range, orderBy = md5-of-key)` — ORDER BY the key's md5 hex
  // turns the remote's top-n into a uniform pseudo-random sample of the
  // parent's rows that is deterministic across runs (same rows → same
  // sample → same splits). Parents batch UNION ALL into one statement
  // (bounded below) so a level costs ONE extra round-trip on one engine,
  // not one per parent. Remote cost: a top-n over each parent's slice — on
  // a PK-indexed/clustered table an index range scan, and in the regime
  // this exists for (snowflake IDs, tenant prefixes) it replaces whole
  // LEVELS of checksum statements that re-scan the same slice while
  // arithmetic splits narrow key WIDTH toward the dense sliver.
  private val SamplesPerBucket = 16
  def samples(p: Plan, parents: Seq[(Box, Long)]): Map[Int, Seq[Any]] = {
    val k = keyCols.head
    val orderBy = dialect.md5AsHexSql(dialect.toStringSql(keySql(p, k)))
    val nPer = p.factor * SamplesPerBucket
    // bound each statement's text drain to ~32k short values, and never
    // exceed the per-statement segment cap
    val perStmt = math.max(1, math.min(MaxSegmentsPerQuery, 32768 / nPer))
    val rows = parents.map(_._1).zipWithIndex.grouped(perStmt).toSeq.flatMap { chunk =>
      val sql = chunk.map { case (box, i) =>
        s"SELECT $i AS seg, graft_sk FROM (" +
          dialect.sampleSql(t.table, Seq(s"${keySql(p, k)} AS graft_sk"),
            nPer, Some(where(pred(p, box))), Some(orderBy)) + s") g$i"
      }.mkString(" UNION ALL ")
      // a failed sample statement must not kill the diff — those parents
      // just keep the arithmetic split
      Try(query(sql)).recover { case e =>
        Console.err.println(s"[graft] quantile sample on $name failed (${e.getMessage}); " +
          "falling back to arithmetic splits for this batch")
        Nil
      }.get
    }
    rows.flatMap(r => for (seg <- r.head; v <- r(1)) yield seg.trim.toInt -> v)
      .groupBy(_._1).map { case (i, vs) => i -> vs.map(_._2) }
  }

  def fetch(p: Plan, leaves: Seq[Box], compare: Seq[String]): DataFrame = {
    val rel = keyCols ++ compare
    t.engine.jdbcSource match {
      case Some((url, props)) =>
        // Partitioned fetch: normalization stays in the remote SQL (a
        // derived table computing the SAME normalized projections the text
        // protocol selects — parity is identical by construction), while
        // Spark reads one partition per leaf predicate, so executors pull
        // ranges in parallel instead of the coordinator draining one
        // statement at a time. This is the fetch path that makes the dense
        // cutover scale: there the "leaves" are most of the table, and a
        // single-threaded text drain into coordinator-held Seqs would be the
        // new bottleneck (and an out-of-memory failure there). LOOPBACK HAZARD: if the "remote"
        // is served by THIS Spark application (an in-process Thrift
        // server), every task slot can end up holding a scan task blocked
        // on a statement that needs a slot on the same scheduler — a
        // deadlock, observed live at local[4]. Point the engine's
        // jdbcSource at None (text drain) for loopback setups; a real
        // remote warehouse has no such cycle. Segmentation-space keys ride
        // along under __graft_rk_* aliases purely for the partition
        // predicates; no AS on the derived-table alias (Oracle rejects it).
        val rk = keyCols.indices.map(d => s"__graft_rk_$d")
        val sel = (rel.map(c => s"${normSql(p, c)} AS ${dialect.quote(c)}") ++
          keyCols.zip(rk).map { case (k, a) => s"${keySql(p, k)} AS ${dialect.quote(a)}" })
          .mkString(", ")
        val inner = s"SELECT $sel FROM ${t.table}" + t.extraWhereSql.fold("")(e => s" WHERE $e")
        val scan = spark.read.jdbc(url, s"($inner) g",
          leaves.map(inBox(rk.map(dialect.quote), _)).toArray, props).drop(rk: _*)
        // Pinned at the RDD level: the count that reports the fetch also
        // fills the blocks the compare then reads, so a task retry re-reads
        // blocks, not the remote, and the rows are materialized before the
        // caller closes the engine. The RDD keeps its JDBC lineage (a lost
        // executor recomputes from the remote), and nothing enters Spark's
        // cache manager: the blocks go when the returned frame is collected.
        val rows = scan.rdd.persist(StorageLevel.MEMORY_AND_DISK)
        statements += 1 // one logical scan (N partition reads)
        fetchedRows += rows.count()
        spark.createDataFrame(rows, scan.schema)
      case None =>
        val rows = leaves.grouped(MaxSegmentsPerQuery).toSeq.flatMap { chunk =>
          val leafOr = chunk.map(b => s"(${pred(p, b)})").mkString(" OR ")
          query(dialect.selectNormalizedSql(t.table, rel.map(c => (normSql(p, c), c)),
            Some(t.extraWhereSql.fold(s"($leafOr)")(e => s"($leafOr) AND ($e)"))))
        }
        fetchedRows += rows.size
        spark.createDataFrame(rows.map(r => Row(r.map(_.orNull): _*)).asJava,
          StructType(rel.map(StructField(_, StringType, nullable = true))))
    }
  }
}
